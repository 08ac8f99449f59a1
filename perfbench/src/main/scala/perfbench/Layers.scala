package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{PerfbenchPlans, SparkPlanInfo}
import org.apache.spark.sql.functions._

/** Per-layer attribution of one traced `Pixetl.run`.
  *
  * The job's wall is first cut into four phases along its Spark-job
  * timeline: catalog (from the start until the first `LayerJob.run` job),
  * build (`LayerJob.run`'s plan-time jobs), sink (the SQL execution started
  * by `Pixetl.writeWithPyramid`) and publish (everything after it). Each
  * instant belongs to the latest-started job running then; an idle gap
  * belongs to the job that follows it (the session is planning that job),
  * the leading gap to catalog and the trailing one to publish. The phases
  * therefore sum to the wall exactly, by construction.
  *
  * The sink phase fuses the source read (or the feature burn), the pixel
  * stages and the encoder, so it is split with the self times of the job's
  * lazy prefixes forced into `noop`, each timed on its own. `sink.s` is
  * what the prefix up to the sink's input leaves of the sink phase, and
  * `publish.s` what the stats prefix leaves of the publish phase: both are
  * residuals, so the layer self times add back up to the wall whatever the
  * prefixes measure. What can fail is the fit: `sink.prefix_frac`, the
  * independently timed prefix over the sink phase it is part of, must stay
  * below 1. Publish re-derives the processed tiles for the manifest, the
  * stats sidecars, the status tally and the extent; those re-reads stay in
  * `publish.s`, and `read.src_passes` counts them: the job's read volume
  * over one source pass. */
object Layers {

  /** Median self time and stage totals of each forced prefix, the read
    * volume of the first one, the source blocks (all, with a valid pixel)
    * and the exploded pixel rows of a vector job. */
  final case class Prefix(times: Map[String, Double], sums: Map[String, StageSum], srcBytes: Long,
                          blocks: (Long, Long), pixelRows: Long)

  /** Every per-layer metric and its unit, in record order. */
  val units: Seq[(String, String)] = Seq(
    "catalog.s" -> "s", "catalog.spark_jobs" -> "count",
    "layerjob.build_s" -> "s", "layerjob.build_spark_jobs" -> "count",
    "read.s" -> "s", "read.blocks" -> "count", "read.rchar_mb" -> "MB", "read.src_passes" -> "x",
    "warp.s" -> "s", "warp.blocks" -> "count", "warp.useful_block_frac" -> "frac",
    "layerjob.pixel_s" -> "s", "mosaic.shuffle_mb" -> "MB", "mosaic.spill_mb" -> "MB",
    "stats.s" -> "s",
    "rasterize.explode_s" -> "s", "rasterize.s" -> "s", "rasterize.pixel_rows" -> "count", "rasterize.shuffle_mb" -> "MB",
    "vectorjob.pack_s" -> "s", "vectorjob.shuffle_mb" -> "MB",
    "sink.s" -> "s", "sink.prefix_frac" -> "frac", "sink.tasks" -> "count",
    "sink.busy_frac" -> "frac", "sink.shuffle_mb" -> "MB", "sink.out_mb" -> "MB",
    "publish.s" -> "s", "publish.spark_jobs" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "exec.busy_frac" -> "frac",
    "trace.job_s" -> "s")

  private val Catalog = 0; private val Build = 1; private val Sink = 2; private val Publish = 3
  private val SinkFrame = "graft.Pixetl$.writeWithPyramid("
  private val BuildFrame = "graft.plans.LayerJob$.run("

  /** (all blocks, blocks with any valid pixel) the source stage emits. */
  def blockCounts(source: DataFrame): (Long, Long) = {
    val r = source.agg(count(lit(1)), sum(when(exists(col("valid"), v => v), 1).otherwise(0)))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  def phases(rec: Recorder, jobs: Seq[Recorder.Job]): Seq[(Recorder.Job, Int)] = {
    var seen = Catalog
    jobs.map { j =>
      val d = rec.detailsOf(j)
      val p =
        if (d.contains(SinkFrame)) Sink
        else if (d.contains(BuildFrame) && seen <= Build) Build
        else if (seen >= Sink) Publish
        else seen
      seen = math.max(seen, p)
      (j, p)
    }
  }

  /** Seconds of [t0, t1] (epoch ms) per phase. */
  def timeline(jobs: Seq[(Recorder.Job, Int)], t0: Long, t1: Long): Array[Double] = {
    val acc = new Array[Double](4)
    val js = jobs.map { case (j, p) => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1), p) }
    val cuts = (js.flatMap { case (s, e, _) => Seq(s, e) } ++ Seq(t0, t1)).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val running = js.filter { case (s, e, _) => s <= a && e >= b }
        val p =
          if (running.nonEmpty) running.maxBy(_._1)._3
          else if (!js.exists(_._1 < b)) Catalog
          else js.filter(_._1 >= b).sortBy(_._1).headOption.map(_._3).getOrElse(Publish)
        acc(p) += (b - a) / 1e3
      case _ =>
    }
    acc
  }

  def of(workload: String, dir: Path, rec: Recorder, jobs: Seq[Recorder.Job],
         t0: Long, t1: Long, wall: Double, rchar: Long, pre: Prefix, cores: Int): Map[String, Double] = {
    val tagged = phases(rec, jobs)
    val ph = timeline(tagged, t0, t1)
    def jobsOf(p: Int) = tagged.collect { case (j, q) if q == p => j }
    val all = StageSum.of(rec.stagesOf(jobs))
    val sink = StageSum.of(rec.stagesOf(jobsOf(Sink)))
    val outBytes = tileBytes(workload, dir)
    // source passes: the job's read volume (less shuffle reads and the
    // profile copy's re-read of the tiles) over one source pass
    val passes = math.max(0.0, (rchar - all.shuffleReadMb * 1e6 - outBytes) / math.max(1L, pre.srcBytes))
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    units.foreach { case (n, _) => m(n) = 0.0 }

    m("catalog.spark_jobs") = jobsOf(Catalog).size
    m("layerjob.build_spark_jobs") = jobsOf(Build).size
    m("publish.spark_jobs") = jobsOf(Publish).size
    m("read.rchar_mb") = rchar / 1e6
    m("sink.tasks") = sink.tasks
    m("sink.busy_frac") = if (ph(Sink) > 0) sink.runS / (ph(Sink) * cores) else 0.0
    m("sink.shuffle_mb") = sink.shuffleMb
    m("sink.out_mb") = outBytes / 1e6
    m("spark.jobs") = jobs.size
    m("spark.tasks") = all.tasks
    m("spark.shuffle_mb") = all.shuffleMb
    m("spark.spill_mb") = all.spillMb
    m("spark.gc_s") = all.gcS
    m("exec.busy_frac") = all.runS / (wall * cores)
    m("trace.job_s") = wall

    // one pass up to the sink's input; the rest of the sink phase encodes
    // and writes
    val t = pre.times
    val toSink = t("blocks")
    m("catalog.s") = ph(Catalog)
    m("layerjob.build_s") = ph(Build)
    m("sink.s") = ph(Sink) - toSink
    m("sink.prefix_frac") = if (ph(Sink) > 0) toSink / ph(Sink) else 0.0
    if (workload == "vector_burn") {
      m("rasterize.explode_s") = t("pixels")
      m("rasterize.s") = t("burned")
      m("rasterize.pixel_rows") = pre.pixelRows
      m("rasterize.shuffle_mb") = pre.sums("burned").shuffleMb
      m("vectorjob.pack_s") = toSink - t("burned")
      m("vectorjob.shuffle_mb") = math.max(0.0, pre.sums("blocks").shuffleMb - pre.sums("burned").shuffleMb)
      m("publish.s") = ph(Publish)
    } else {
      // the stats fold over the blocks runs in the publish phase
      val src = if (workload == "raster_warp_mosaic") "warp" else "read"
      val stats = t("stats") - toSink
      m("read.src_passes") = passes
      m(s"$src.s") = t("source")
      m(s"$src.blocks") = pre.blocks._1
      if (src == "warp") m("warp.useful_block_frac") = pre.blocks._2.toDouble / math.max(1L, pre.blocks._1)
      m("layerjob.pixel_s") = toSink - t("source")
      m("mosaic.shuffle_mb") = math.max(0.0, pre.sums("blocks").shuffleMb - pre.sums("source").shuffleMb)
      m("mosaic.spill_mb") = math.max(0.0, pre.sums("blocks").spillMb - pre.sums("source").spillMb)
      m("stats.s") = stats
      m("publish.s") = ph(Publish) - stats
    }
    m.toMap
  }

  /** Operators of a physical plan, without the codegen wrappers: each
    * one's name, and for an operator that runs a closure (a reader's
    * `mapPartitions`, a packing `mapGroups`) the closure's class too.
    * Projections and filters are left at their names: the optimiser
    * rewrites them differently once a prefix sits inside the sink's query. */
  def planNodes(p: SparkPlanInfo): Seq[String] = {
    val name = p.nodeName.replaceAll("""\s*\(\d+\)$""", "").trim
    val closure = """[\w.$]+\$\$Lambda[\w$]*""".r.findFirstIn(p.simpleString)
    val own =
      if (Set("WholeStageCodegen", "InputAdapter", "AdaptiveSparkPlan")(name)) Nil
      else Seq(name + closure.map(" " + _).getOrElse(""))
    own ++ p.children.flatMap(planNodes)
  }

  /** The prefixes whose operators no SQL execution of the traced job runs
    * all of, with the operators that execution lacks. Empty when every
    * prefix still describes part of the plan the program ran; a prefix
    * rebuilt the old way after the program's plan changed shows up here. */
  def planDrift(prefixes: Workloads.Prefixes, rec: Recorder, jobs: Seq[Recorder.Job]): Seq[String] = {
    def counts(ns: Seq[String]) = ns.groupBy(identity).map { case (k, v) => k -> v.size }
    val ran = jobs.map(_.execId).distinct.flatMap(id => rec.synchronized(rec.execPlans.get(id)))
      .map(p => counts(planNodes(p)))
    prefixes.passes.flatMap { case (name, df) =>
      val want = counts(planNodes(PerfbenchPlans.info(df.queryExecution.executedPlan)))
      val lacks = ran.map(have => want.collect { case (k, n) if have.getOrElse(k, 0) < n => k })
      if (lacks.exists(_.isEmpty)) None
      else Some(s"prefix $name: no execution of the traced job runs all of its operators" +
        lacks.sortBy(_.size).headOption.map(l => s" (closest lacks ${l.toSeq.sorted.mkString(", ")})")
          .getOrElse(""))
    }
  }

  /** One JSON line per recorded Spark job: group, phase (for the traced
    * job), start/end relative to `t0` and its stage totals. */
  def spans(rec: Recorder, t0: Long): Seq[String] = {
    val tagged = phases(rec, rec.jobsIn("job")).toMap
    rec.jobs.values.toSeq.sortBy(_.start).map { j =>
      val ss = StageSum.of(rec.stagesOf(Seq(j)))
      val phase = tagged.get(j).map(Seq("catalog", "build", "sink", "publish")(_)).getOrElse("")
      val site = rec.detailsOf(j).linesIterator.filter(_.contains("graft.")).take(3).mkString(" < ")
        .replace("\\", "/").replace("\"", "'")
      f"""{"job": ${j.id}, "group": "${j.group}", "phase": "$phase", "exec": "${j.execId}", """ +
        f""""start_s": ${(j.start - t0) / 1e3}%.3f, "end_s": ${(j.end - t0) / 1e3}%.3f, """ +
        f""""tasks": ${ss.tasks}, "run_s": ${ss.runS}%.3f, "shuffle_mb": ${ss.shuffleMb}%.3f, """ +
        f""""site": "$site"}"""
    }
  }

  /** Bytes of the primary-profile tiles (what the sink encoded). */
  def tileBytes(workload: String, dir: Path): Long =
    Checks.tileIds(workload).map(id => Checks.outDir(workload, dir).resolve(s"$id.tif"))
      .filter(Files.exists(_)).map(Files.size).sum
}
