package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Self-test of the output checks: they accept a real job's output and
  * reject each corrupted copy of it (one flipped tile pixel, one dropped
  * manifest feature, one wrong status tally). It also shows that the plan
  * drift guard of the traced mode accepts the prefixes as built and
  * rejects one that adds an operator the program does not run. */
object SelfTest {

  /** Run `check` with the file at `path` corrupted by `corrupt`, then put
    * the original bytes back. */
  private def corrupted(path: Path)(corrupt: => Unit)(check: => Seq[String]): Seq[String] = {
    val orig = Files.readAllBytes(path)
    try { corrupt; check } finally Files.write(path, orig)
  }

  def run(spark: SparkSession, workload: String, dir: Path, seed: Long): Main.Record = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    sc.setJobGroup("job", "job")
    val status =
      try Main.job(spark, workload, dir)
      finally {
        sc.clearJobGroup()
        org.apache.spark.PerfbenchBridge.drainListeners(sc)
        sc.removeSparkListener(rec)
      }
    val pre = Workloads.prefixes(spark, workload, dir)
    val drifted = Workloads.Prefixes(Seq("drifted" -> pre.passes.last._2.sample(0.5)))
    val out = Checks.outDir(workload, dir)
    val tile = out.resolve(s"${Checks.tileIds(workload).head}.tif")
    val cases = Seq(
      ("clean output passes", true, () => Checks.all(workload, dir, seed, status)),
      ("flipped tile pixel fails", false, () =>
        corrupted(tile)(Checks.flipPixel(workload, dir))(Checks.content(workload, dir, seed))),
      ("dropped manifest feature fails", false, () =>
        corrupted(out.resolve("tiles.geojson"))(Checks.dropFeature(workload, dir))(
          Checks.content(workload, dir, seed))),
      ("wrong status tally fails", false, () =>
        Checks.status(workload, status.map { case (s, n) => (s, n + 1) })),
      ("prefixes on the program's plan pass", true, () => Layers.planDrift(pre, rec, rec.jobsIn("job"))),
      ("prefix off the program's plan fails", false, () =>
        Layers.planDrift(drifted, rec, rec.jobsIn("job"))))
    val results = cases.map { case (name, shouldPass, check) =>
      val errs = check()
      val ok = errs.isEmpty == shouldPass
      println(s"self-test $workload: $name: ${if (ok) "ok" else "FAILED"}" +
        errs.headOption.map(e => s" ($e)").getOrElse(""))
      ok
    }
    val failed = results.count(!_)
    Main.Record(failed == 0, results.size, failed, Nil, Nil)
  }
}
