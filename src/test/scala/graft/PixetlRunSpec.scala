package graft

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.operators.Rasterize
import graft.sources.{GeoTiff, GeoTiffSpark}
import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** `Pixetl.run` end to end, counting how often the pixel plan runs: the
  * sink runs it once, and everything published after the sink derives from
  * the tiles it wrote (plus, for rasters, one pinned stats pass). */
class PixetlRunSpec extends SparkSpec {

  /** Per SQL execution: its plan trees (the initial one and each adaptive
    * re-plan) and the ids of the accumulators its tasks updated. */
  private final class Executions extends SparkListener {
    val plans = scala.collection.mutable.Map.empty[Long, List[SparkPlanInfo]]
    private val stageExec = scala.collection.mutable.Map.empty[Int, Long]
    private val updated = scala.collection.mutable.Map.empty[Long, Set[Long]]

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          plans(s.executionId) = s.sparkPlanInfo :: plans.getOrElse(s.executionId, Nil)
        case a: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans(a.executionId) = a.sparkPlanInfo :: plans.getOrElse(a.executionId, Nil)
        case _ =>
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => j.stageIds.foreach(stageExec(_) = id.toLong))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      stageExec.get(t.stageId).foreach { id =>
        updated(id) = updated.getOrElse(id, Set.empty) ++ t.taskInfo.accumulables.map(_.id)
      }
    }

    private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

    /** Executions in which a node matching `hit` RAN: a metric of its
      * subtree was updated by the execution's own tasks. A plan that only
      * reads the node's output from a cache still shows the node (under
      * its InMemoryTableScan) but updates none of those metrics. */
    def ranIn(hit: SparkPlanInfo => Boolean): Set[Long] = synchronized {
      plans.collect { case (id, trees) if trees.exists(t => nodes(t).exists { n =>
        hit(n) && nodes(n).exists(_.metrics.exists(m =>
          updated.getOrElse(id, Set.empty).contains(m.accumulatorId)))
      }) => id }.toSet
    }
  }

  /** Runs `body` with a fresh [[Executions]] listener attached. */
  private def recording[T](body: => T): (T, Executions) = {
    val rec = new Executions
    spark.sparkContext.addSparkListener(rec)
    try {
      val out = body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (out, rec)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  /** The closure classes of a DataFrame's MapPartitions operators: how
    * this spec recognises the same operator in the plans `Pixetl.run`
    * executes (a closure prints as `<class>@<identity hash>`). */
  private def closures(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case m: MapPartitionsExec =>
      m.func.getClass.getName + "@"
    }.toSet

  private def runs(cls: Set[String]): SparkPlanInfo => Boolean = n =>
    n.nodeName.startsWith("MapPartitions") && cls.exists(n.simpleString.contains)

  private def fresh(name: String): Path = {
    val d = Paths.get(s"target/tmp/pixetlrun/$name").toAbsolutePath
    FileUtils.deleteQuietly(d.toFile)
    Files.createDirectories(d)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def listing(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def features(tiles: String): Set[String] =
    """"name":"[^"]*/([^/"]+)\.tif"""".r.findAllMatchIn(tiles).map(_.group(1)).toSet

  // 2x2 blocks of 288 px per tile, 8 tiles
  private val grid = LayerSpec.fromJson(
    """{"dataset": "g", "version": "v1", "source_type": "raster",
      |"pixel_meaning": "x", "data_type": "uint16", "grid": "90/576",
      |"source_uri": ["mem"]}""".stripMargin).gridDef

  /** One source file covering grid tile `tileId`, `value(x, y)` per pixel
    * (0 is the source's nodata). */
  private def writeSource(dir: Path, tileId: String)(value: (Int, Int) => Double): Unit = {
    val b = grid.tileBounds(tileId)
    val bs = grid.blockSize
    val w = new GeoTiff.Writer(dir.resolve(s"$tileId.tif").toString, GeoTiff.Profile(
      width = grid.cols, height = grid.rows, bands = 1, dataType = "uint16",
      tileWidth = bs, tileHeight = bs, noData = Some(0.0), epsg = 4326,
      originX = b.left, originY = b.top, xres = grid.xres, yres = grid.yres))
    for (br <- 0 until grid.cols / bs; bc <- 0 until grid.cols / bs)
      w.writeTile(1, br, bc, Array.tabulate(bs * bs)(i => value(bc * bs + i % bs, br * bs + i / bs)))
    w.close()
  }

  private def rasterSpec(src: Path, noData: Boolean): LayerSpec = LayerSpec.fromJson(
    s"""{"dataset": "r", "version": "v1", "source_type": "raster",
       |"pixel_meaning": "x", "data_type": "uint16", "grid": "90/576",
       |"calc": "A * 2 + 1", "compute_stats": true,
       |${if (noData) "\"no_data\": 0," else ""}
       |"source_uri": ["$src"]}""".stripMargin)

  test("raster: the reader runs in the sink and the stats pass only, and no pin outlives the job") {
    val work = fresh("raster")
    val src = Files.createDirectories(work.resolve("src"))
    writeSource(src, "90N_180W")((x, y) => 1 + (x * 7 + y) % 1000)
    writeSource(src, "90N_090W")((x, y) => if (y == 5) 0 else 2 + (x + y * 3) % 500)
    writeSource(src, "00N_180W")((_, _) => 0.0) // published as nodata, with no stats
    val spec = rasterSpec(src, noData = true)
    val reader = closures(GeoTiffSpark.reader(spark.createDataFrame(Seq(
      ("t", 1, 1, 0, 0, 1, 1, "u", 1))).toDF("tile_id", "band", "file_band", "block_row",
      "block_col", "width", "height", "uri", "priority")))
    assert(reader.size == 1)

    val before = persisted
    val (status, rec) = recording(
      Pixetl.run(spark, spec, work.toString, overwrite = true, sub = None))
    assert(persisted == before)
    val ran = rec.ranIn(runs(reader))
    assert(ran.nonEmpty && ran.size <= 2,
      s"reader ran in executions $ran of ${rec.plans.keys.toSeq.sorted}")

    assert(status.toMap == Map("processed" -> 3L, "skipped (does not intersect)" -> 5L))
    val out = work.resolve(spec.prefix())
    val ids = Set("90N_180W", "90N_090W", "00N_180W")
    assert(features(Files.readString(out.resolve("tiles.geojson"))) == ids)
    assert(listing(out).filter(_.endsWith(".tif.aux.xml")) == ids.map(_ + ".tif.aux.xml"))
    val empty = Files.readString(out.resolve("00N_180W.tif.aux.xml"))
    assert(!empty.contains("STATISTICS_MEAN") && empty.contains("STATISTICS_VALID_PERCENT\">0.0<"),
      empty)
    // the published pixels are calc(source), the nodata row kept as nodata
    val t = GeoTiff.open(out.resolve("90N_090W.tif").toString)
    val px = t.readTile(1, 0, 1)
    val bs = grid.blockSize
    for (i <- px.indices) {
      val (x, y) = (bs + i % bs, i / bs)
      assert(px(i) == (if (y == 5) 0.0 else (2 + (x + y * 3) % 500) * 2.0 + 1), s"pixel ($x, $y)")
    }
  }

  test("raster without a nodata value: an all-nodata tile gets no sidecar and no manifest entry") {
    val work = fresh("orphan")
    val src = Files.createDirectories(work.resolve("src"))
    writeSource(src, "90N_180W")((x, y) => 1 + (x + y) % 100)
    writeSource(src, "90N_090W")((_, _) => 0.0) // every pixel is the source's nodata
    val spec = rasterSpec(src, noData = false)
    val status = Pixetl.run(spark, spec, work.toString, overwrite = true, sub = None).toMap
    assert(status == Map("processed" -> 1L, "skipped (has no data)" -> 1L,
      "skipped (does not intersect)" -> 6L))
    val out = work.resolve(spec.prefix())
    val files = listing(out)
    assert(files.filter(_.endsWith(".tif")) == Set("90N_180W.tif"))
    assert(files.filter(_.endsWith(".aux.xml")) == Set("90N_180W.tif.aux.xml"), s"published $files")
    val tiles = Files.readString(out.resolve("tiles.geojson"))
    assert(features(tiles) == Set("90N_180W"))
    assert(tiles.contains("\"bands\":[{\"band\":1,"))
  }

  test("vector: one burn pass, and the status, tiles.geojson and extent.geojson it publishes") {
    import spark.implicits._
    val work = fresh("vector")
    // one square feature in each of two tiles that share no edge or corner
    Seq((GeoFunctions.write(GeoFunctions.envelope(-170, 10, -150, 30)), 7L),
      (GeoFunctions.write(GeoFunctions.envelope(20, -60, 40, -40)), 9L))
      .toDF("geom", "value").write.parquet(work.resolve("features.parquet").toString)
    val spec = LayerSpec.fromJson(
      """{"dataset": "v", "version": "v1", "source_type": "vector",
        |"pixel_meaning": "burned", "data_type": "uint16", "no_data": 0,
        |"grid": "90/576", "rasterize_method": "value", "order": "asc"}""".stripMargin)
    val explode = closures(Rasterize.explodeToPixels(
      Seq((GeoFunctions.write(GeoFunctions.envelope(0, 0, 1, 1)), 1L)).toDF("geom", "value"),
      -180.0, 90.0, grid.xres, grid.yres))
    assert(explode.nonEmpty)

    val before = persisted
    val (status, rec) = recording(
      Pixetl.run(spark, spec, work.toString, overwrite = true, sub = None))
    assert(persisted == before)
    val ran = rec.ranIn(runs(explode))
    assert(ran.size == 1, s"explode ran in executions $ran of ${rec.plans.keys.toSeq.sorted}")

    assert(status.toMap == Map("processed" -> 2L, "skipped (does not intersect)" -> 6L))
    val out = work.resolve(spec.prefix())
    assert(features(Files.readString(out.resolve("tiles.geojson"))) == Set("90N_180W", "00N_000E"))
    assert(listing(out).filter(_.endsWith(".tif")) == Set("90N_180W.tif", "00N_000E.tif"))
    // the extent is the union of the two tiles: both squares, nothing else
    val extent = Files.readString(out.resolve("extent.geojson"))
    assert(extent.contains("\"MultiPolygon\""), extent)
    val corners = """\[(-?[\d.]+),\s*(-?[\d.]+)\]""".r.findAllMatchIn(extent)
      .map(m => (m.group(1).toDouble, m.group(2).toDouble)).toSet
    assert(corners == Set((-180.0, 0.0), (-90.0, 0.0), (-90.0, 90.0), (-180.0, 90.0),
      (0.0, -90.0), (90.0, -90.0), (90.0, 0.0), (0.0, 0.0)), extent)
    // a burned pixel carries its feature's value: (30, -50) in the tile
    // whose top-left corner is (0, 0)
    val t = GeoTiff.open(out.resolve("00N_000E.tif").toString)
    val (x, y) = ((30 / grid.xres).toInt, (50 / grid.yres).toInt)
    val bs = grid.blockSize
    assert(t.readTile(1, y / bs, x / bs)((y % bs) * bs + x % bs) == 9.0)
  }
}
