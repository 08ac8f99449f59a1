package perfbench

import graft.core.GraftSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark JVM. One run = three set-ups (session start + input
  * generation or cache validation), one warm-up job, then either
  *
  *  - `--trace 0`: `Pixetl.run` jobs back to back until they have run for
  *    `--seconds` (one at least), each timed from outside and started on a
  *    collected heap, then the output checks; the end-to-end metrics; or
  *  - `--trace 1`: untraced and traced jobs alternately, plus the lazy
  *    prefixes of one job forced into `noop`; the per-layer metrics.
  *
  * The result record is written to `--out` as one JSON object. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: Path, out: Path, selfTest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      Paths.get(m("data")).toAbsolutePath, Paths.get(m("out")).toAbsolutePath,
      m.get("self-test").contains("1"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors
  /** Jobs run before measuring: the JVM's first job is cold. */
  val Warmups = 1

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Proc.watchGc()
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    val (steal0, total0) = Proc.cpu
    val load0 = Proc.loadavg1

    // ---- set-up, three times; the median is reported ---------------------
    var spark: SparkSession = null
    var dir: Path = null
    val setups = (0 until 3).map { _ =>
      if (spark != null) spark.stop()
      val (s, sessionS) = secs(GraftSession.local("perfbench", cores.toString))
      spark = s
      val (d, inputsS) = secs(Inputs.ensure(s, a.data, a.workload, a.seed))
      dir = d
      (sessionS, inputsS)
    }
    val warm = (0 until Warmups).map(_ => secs(job(spark, a.workload, dir))._2)
    val warmS = warm.sum
    val setupS = median(setups.map { case (s, i) => s + i }) + warmS
    println(s"perfbench: set-ups ${setups.map { case (s, i) => f"$s%.3f+$i%.3f" }.mkString(" ")} s," +
      s" warm-up jobs ${warm.map(w => f"$w%.3f").mkString(" ")} s")
    val sessionS = median(setups.map(_._1))

    val result =
      try {
        if (a.selfTest) SelfTest.run(spark, a.workload, dir, a.seed)
        else if (a.trace) traced(spark, a, dir, sessionS)
        else untraced(spark, a, dir, setupS)
      } finally spark.stop()

    val stealFrac = stealSince(steal0, total0)
    val host = f"""{"steal_frac": $stealFrac%.5f, "loadavg1_start": $load0%.2f, "loadavg1_end": ${Proc.loadavg1}%.2f, "cores": $cores}"""
    Files.writeString(a.out, result.json(host))
  }

  def stealSince(steal0: Long, total0: Long): Double = {
    val (steal1, total1) = Proc.cpu
    if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
  }

  /** Before each job: a clean destination, and a full collection so the
    * job starts from the live heap and its after-GC peak is its own. */
  def fresh(dir: Path): Unit = {
    Inputs.deleteTree(Workloads.published(dir))
    System.gc()
    Proc.resetGcPeak()
    liveMb = Proc.inUseMb
  }
  /** Memory in use after the last collection before a job, MB. */
  var liveMb = 0.0

  /** One production job into a clean destination. */
  def job(spark: SparkSession, workload: String, dir: Path): Seq[(String, Long)] = {
    fresh(dir)
    Workloads.runJob(spark, workload, dir)
  }

  /** One run's result: the record's four keys plus the failure messages. */
  final case class Record(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], failures: Seq[String]) {
    def json(host: String): String = {
      def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def num(v: Double) =
        if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
      val ms = metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}, "host": $host, """ +
        s""""failures": [${failures.map(str).mkString(", ")}]}"""
    }
  }

  // ---- untraced: end-to-end metrics ---------------------------------------
  def untraced(spark: SparkSession, a: Args, dir: Path, setupS: Double): Record = {
    val walls = Seq.newBuilder[Double]
    var failures = Seq.empty[String]
    var failedJobs = 0
    var n = 0
    var last: Seq[(String, Long)] = Nil
    val heaps = Seq.newBuilder[Double]
    val lives = Seq.newBuilder[Double]
    var measured = 0.0
    while (n == 0 || measured < a.seconds) {
      fresh(dir)
      n += 1
      val t = System.nanoTime()
      try {
        last = Workloads.runJob(spark, a.workload, dir)
        walls += (System.nanoTime() - t) / 1e9
        heaps += Proc.peakAfterGcMb
        lives += liveMb
        val bad = Checks.status(a.workload, last)
        if (bad.nonEmpty) { failedJobs += 1; failures ++= bad }
      } catch {
        case e: Exception => failedJobs += 1; failures :+= s"job threw: $e"
      }
      measured += (System.nanoTime() - t) / 1e9
    }
    // the last job's output is still in place: check all of it
    val outBytes = Workloads.publishedBytes(dir)
    val checkFailures = if (failedJobs == n) Nil else Checks.all(a.workload, dir, a.seed, last)
    failures ++= checkFailures
    val jobS = median(walls.result())
    val px = Workloads.outPixels(a.workload).toDouble
    val failed = failedJobs + (if (checkFailures.nonEmpty) 1 else 0)
    println(s"perfbench: job walls ${walls.result().map(w => f"$w%.3f").mkString(" ")} s," +
      s" heap peaks ${heaps.result().map(h => f"$h%.1f").mkString(" ")} MB" +
      s" (live before ${lives.result().map(h => f"$h%.1f").mkString(" ")} MB), set-up $setupS s")
    Record(failures.isEmpty, n, math.min(failed, n), Seq(
      ("setup_s", setupS, "s"),
      ("job_s", jobS, "s"),
      ("mpx_per_s", px / 1e6 / jobS, "Mpx/s"),
      ("out_bytes_per_px", outBytes / px, "B/px"),
      ("peak_heap_mb", median(heaps.result()), "MB")), failures)
  }

  // ---- traced: per-layer metrics -------------------------------------------
  def traced(spark: SparkSession, a: Args, dir: Path, sessionS: Double): Record = {
    val (steal0, total0) = Proc.cpu
    val rec = new Recorder
    val sc = spark.sparkContext
    def drained[A](f: => A): A = { val r = f; org.apache.spark.PerfbenchBridge.drainListeners(sc); r }
    def grouped[A](group: String)(f: => A): A = {
      sc.setJobGroup(group, group)
      try drained(f) finally sc.clearJobGroup()
    }
    val plain = Seq.newBuilder[Double]
    val layers = Seq.newBuilder[Map[String, Double]]
    var failures = Seq.empty[String]
    var n = 0
    var spans = Seq.empty[String]

    // the lazy prefixes of the same job, each forced into noop; medians of
    // three rounds
    sc.addSparkListener(rec)
    val p0 = System.currentTimeMillis()
    val pre = grouped("prefix.build")(Workloads.prefixes(spark, a.workload, dir))
    // (seconds, bytes read less shuffle reads) of each pass, per round
    val rounds = (0 until 3).map { i =>
      pre.passes.map { case (name, df) =>
        val g = s"prefix.$name.$i"
        val r0 = Proc.rchar
        val t = grouped(g)(Workloads.force(df))
        val shuffleRead = StageSum.of(rec.stagesOf(rec.jobsIn(g))).shuffleReadMb
        (t, Proc.rchar - r0 - (shuffleRead * 1e6).toLong)
      }
    }
    val vector = a.workload == "vector_burn"
    val prefix = Layers.Prefix(
      pre.passes.zipWithIndex.map { case ((n, _), k) => n -> median(rounds.map(_(k)._1)) }.toMap,
      pre.passes.map { case (n, _) => n -> StageSum.of(rec.stagesOf(rec.jobsIn(s"prefix.$n.2"))) }.toMap,
      rounds.last.head._2,
      if (vector) (0L, 0L) else grouped("prefix.count")(Layers.blockCounts(pre("source"))),
      if (vector) grouped("prefix.count")(pre("pixels").count()) else 0L)
    sc.removeSparkListener(rec)
    val prefixSpans = Layers.spans(rec, p0)

    // untraced reference jobs (no listener, no job group) bracket the
    // traced ones, so JIT warm-up does not bias the tracing overhead
    def plainJob(): Seq[(String, Long)] = {
      fresh(dir)
      val (status, wall) = secs(Workloads.runJob(spark, a.workload, dir))
      plain += wall
      status
    }
    val t0 = System.nanoTime()
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      n += 1
      plainJob()
      fresh(dir)
      rec.clear()
      sc.addSparkListener(rec)
      val r0 = Proc.rchar
      val w0 = System.currentTimeMillis()
      val (status, wall) = secs(grouped("job")(Workloads.runJob(spark, a.workload, dir)))
      val w1 = System.currentTimeMillis()
      val rchar = Proc.rchar - r0
      sc.removeSparkListener(rec)
      failures ++= Checks.status(a.workload, status)
      failures ++= Layers.planDrift(pre, rec, rec.jobsIn("job")).filterNot(failures.contains)
      layers += Layers.of(a.workload, dir, rec, rec.jobsIn("job"), w0, w1, wall, rchar, prefix, cores)
      spans = Layers.spans(rec, w0)
    }
    failures ++= Checks.all(a.workload, dir, a.seed, plainJob())
    // spans of the prefixes and of the last traced job, one JSON object a line
    Files.writeString(Paths.get(a.out.toString + ".spans.jsonl"),
      (prefixSpans ++ spans).mkString("", "\n", "\n"))
    val ls = layers.result()
    val keys = ls.head.keys.toSeq
    val med = keys.map(k => k -> median(ls.map(_(k)))).toMap
    val plainS = median(plain.result())
    val metrics = Seq(("core.session_s", sessionS, "s")) ++
      Layers.units.map { case (k, u) => (k, med(k), u) } ++ Seq(
      ("trace.overhead_frac", med("trace.job_s") / plainS - 1, "frac"),
      ("host.steal_frac", stealSince(steal0, total0), "frac"),
      ("host.loadavg1", Proc.loadavg1, "load"))
    Record(failures.isEmpty, n, if (failures.isEmpty) 0 else 1, metrics, failures)
  }
}
