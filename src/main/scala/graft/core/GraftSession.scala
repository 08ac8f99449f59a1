package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job wants.
  *
  * A local session defaults to one core (and one shuffle partition) per
  * host processor; the same settings scale to a real cluster (AQE
  * re-plans shuffles at runtime, shuffle partitions sized to cores not the
  * 200 default, broadcast threshold left at default so small dimension
  * tables broadcast automatically).
  */
object GraftSession {

  /** AQE sort-merge→shuffled-hash rewrite threshold, shared by this builder
    * AND Bench's session so the two cannot silently drift and A/B runs
    * always compare the same effective conf (ADVICE r19). "0" restores
    * Spark's default (rewrite off); env-overridable for A/B re-runs. */
  def shjThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m")

  /** The default session width: this host's processor count. */
  def hostCores: String = Runtime.getRuntime.availableProcessors.toString

  def builder(appName: String = "graft", cores: String = hostCores): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true") // explicit: skewed shuffle joins split at runtime
      // physical-only: let AQE re-coalesce cached-plan output partitioning;
      // otherwise every Caching.shared pin freezes its pre-AQE partition
      // count and inflates all downstream stages (t22: 559 → 32 tasks)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // 8 MB advisory: keep coalesced cached intermediates parallel on a
      // 32-core local profile (see Bench.scala); clusters re-size this
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // AQE sort-merge → shuffled-hash rewrite when every build-side
      // partition is measured under 64 MB (guide §3.1): skips both sides'
      // sorts with runtime-bounded memory — unlike preferSortMergeJoin=
      // false this never trusts planner ESTIMATES. Round-19 A/B on the
      // bench profile: sf1 q21 3.54→1.95 s / t22 5.54→2.47; sf10
      // q7 11.45→7.92 / g9 7.54→5.81. Physical-only (same results).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        shjThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // test tables carry TIMESTAMP(NANOS) columns (events.ts)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local session for tests / bench, with the graft SQL surface loaded. */
  def local(appName: String = "graft", cores: String = hostCores): SparkSession = {
    val s = builder(appName, cores)
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(s)
    s
  }
}
