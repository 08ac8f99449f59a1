package perfbench

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.operators.Rasterize
import graft.plans.{LayerJob, VectorJob}
import graft.sources.{Catalog, GeoTiffSpark, WarpReader}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline workloads: the layer spec each one publishes, and the
  * public-layer calls the traced mode uses to time fused stages. */
object Workloads {
  val names: Seq[String] = Seq("raster_aligned", "raster_warp_mosaic", "vector_burn")
  /** The calc every raster workload applies. */
  val Calc = "A * 2 + 1"
  def calc(a: Double): Double = a * 2 + 1
  val Dataset = "perfbench"

  def spec(workload: String, dir: Path): LayerSpec = LayerSpec.fromJson(workload match {
    case "raster_aligned" =>
      s"""{"dataset": "$Dataset", "version": "v1", "source_type": "raster",
         |"pixel_meaning": "aligned", "data_type": "uint16", "no_data": 0,
         |"grid": "90/${Inputs.AlignedCols}", "calc": "$Calc",
         |"compute_stats": true, "source_uri": ["${dir.resolve("src")}"]}""".stripMargin
    case "raster_warp_mosaic" =>
      s"""{"dataset": "$Dataset", "version": "v1", "source_type": "raster",
         |"pixel_meaning": "warped", "data_type": "uint16", "no_data": 0,
         |"grid": "zoom_${Inputs.WarpZoom}", "resampling": "bilinear", "calc": "$Calc",
         |"compute_stats": true, "source_uri": ["${dir.resolve("src")}"]}""".stripMargin
    case "vector_burn" =>
      s"""{"dataset": "$Dataset", "version": "v1", "source_type": "vector",
         |"pixel_meaning": "burned", "data_type": "uint16", "no_data": 0,
         |"grid": "90/${Inputs.VectorCols}", "rasterize_method": "value",
         |"order": "asc"}""".stripMargin
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  })

  /** Output pixels one job publishes (the tiles it processes). */
  def outPixels(workload: String): Long = workload match {
    case "raster_warp_mosaic" => Inputs.warpGrid.cols.toLong * Inputs.warpGrid.rows
    case "vector_burn" => Inputs.tiles.size.toLong * Inputs.vectorGrid.cols * Inputs.vectorGrid.rows
    case _ => Inputs.tiles.size.toLong * Inputs.alignedGrid.cols * Inputs.alignedGrid.rows
  }

  /** Everything a job publishes lives under this directory. */
  def published(dir: Path): Path = dir.resolve(Dataset)

  /** One production job: `Pixetl.run` publishing under the input
    * directory. */
  def runJob(spark: SparkSession, workload: String, dir: Path): Seq[(String, Long)] =
    graft.Pixetl.run(spark, spec(workload, dir), dir.toString, overwrite = true, sub = None)

  /** Lazy prefixes of one job, in the order they nest; forcing each into
    * `noop` in turn gives the self time of the stage it adds. Only the last
    * one comes from the program's own public entry point (`LayerJob.run`'s
    * or `VectorJob.run`'s `blocks`); the earlier ones rebuild the plan that
    * leads up to it the way `Pixetl.run` and `VectorJob.run` do today.
    * `Layers.planDrift` checks each one against the sink the traced job
    * actually ran. */
  final case class Prefixes(passes: Seq[(String, DataFrame)]) {
    def apply(name: String): DataFrame = passes.find(_._1 == name).get._2
  }

  def prefixes(spark: SparkSession, workload: String, dir: Path): Prefixes =
    if (workload == "vector_burn") vectorPrefixes(spark, dir) else rasterPrefixes(spark, workload, dir)

  /** The block reader's output, `Result.blocks`, `Result.tileStats`. The
    * reader and catalog are chosen as `Pixetl.run` chooses them for these
    * sources: the aligned reader when CRS and resolution match the grid,
    * else the warp reader over reprojected footprints. */
  private def rasterPrefixes(spark: SparkSession, workload: String, dir: Path): Prefixes = {
    val sp = spec(workload, dir)
    val grid = sp.gridDef
    val uris = Catalog.listFolder(spark, sp.sourceUri.get.head).collect().map(_.getString(0)).toSeq
    val harvested = GeoTiffSpark.harvestCatalog(spark, uris).withColumn("band", lit(1))
    val srcEpsg = harvested.select("epsg").distinct().collect().head.getInt(0)
    val cat0 = harvested.select("uri", "band", "file_band", "footprint")
    val gridEpsg = if (grid.crs == "EPSG:3857") 3857 else 4326
    val aligned = srcEpsg == gridEpsg &&
      GeoTiffSpark.harvestResolutions(spark, uris).forall { case (xr, yr) =>
        math.abs(xr - grid.xres) <= 1e-9 * grid.xres && math.abs(yr - grid.yres) <= 1e-9 * grid.yres
      }
    val (cat, reader) =
      if (aligned) (cat0, GeoTiffSpark.reader)
      else (Catalog.reprojectFootprints(cat0, s"EPSG:$srcEpsg", grid.crs),
        WarpReader.reader(grid.xres, grid.yres, grid.blockSize, grid.crs,
          s"EPSG:$srcEpsg", sp.resampling))
    var source: DataFrame = null
    val capture: LayerJob.BlockReader = work => { source = reader(work); source }
    val r = LayerJob.run(spark, sp, cat, capture, overwrite = true)
    Prefixes(Seq("source" -> source, "blocks" -> r.blocks, "stats" -> r.tileStats))
  }

  /** The exploded pixel rows, the burned pixels (`Rasterize.rasterizeValue`)
    * and `VectorJob.run`'s `blocks`. The features are clipped to the grid
    * tiles as `VectorJob.run` clips them (a 4326 grid: no reprojection). */
  private def vectorPrefixes(spark: SparkSession, dir: Path): Prefixes = {
    val sp = spec("vector_burn", dir)
    val grid = sp.gridDef
    val features = spark.read.parquet(dir.resolve("features.parquet").toString)
    val tileEnv = GeoFunctions.st_makeEnvelope(col("left"), col("bottom"), col("right"), col("top"))
    val clipped = features.withColumn("value", col("value").cast("long"))
      .join(broadcast(grid.tilesDF(spark).withColumn("tile_env", tileEnv)),
        GeoFunctions.st_intersects(col("geom"), col("tile_env")))
      .withColumn("clipped", GeoFunctions.st_intersection(col("geom"), col("tile_env")))
      .filter(col("clipped").isNotNull)
    val pixels = Rasterize.explodeToPixels(
      clipped.select(col("tile_id"), col("clipped").as("geom"), col("value")),
      -180.0, 90.0, grid.xres, grid.yres)
    Prefixes(Seq("pixels" -> pixels, "burned" -> Rasterize.rasterizeValue(pixels, ascending = true),
      "blocks" -> VectorJob.run(spark, sp, features).blocks))
  }

  /** Force a DataFrame through the `noop` sink; wall seconds. */
  def force(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes published under the dataset directory (tiles of both profiles,
    * sidecars, manifests). */
  def publishedBytes(dir: Path): Long = {
    val root = published(dir)
    if (!Files.exists(root)) 0L else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
