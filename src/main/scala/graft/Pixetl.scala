package graft

import graft.core.{GraftSession, LayerSpec}
import graft.plans.{LayerJob, VectorJob}
import graft.sources.{Catalog, GeoTiffSpark}
import java.nio.file.{Files, Paths}

/** CLI parity with the reference's `pixetl` entry point
  * (`gfw_pixetl/pixetl.py:24-133`):
  *
  *   pixetl --dest <dir> [--overwrite] [--subset id …] '<layer json>'
  *
  * Parses + validates the layer spec, plans against the source catalog,
  * executes the tile pipeline, writes per-tile GeoTIFFs and the
  * tiles.geojson / extent.geojson manifests, prints the status tally, and
  * exits 0 on success / 1 on failure — the reference's exit-code contract
  * (`pixetl.py:73-88`; 137 was its OOM-subprocess code, which has no Spark
  * equivalent because executors retry tasks instead of dying).
  */
object Pixetl {

  def main(args: Array[String]): Unit = {
    var dest = "out"
    var overwrite = false
    var subset = Vector.empty[String]
    var json: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dest" | "-d"     => dest = args(i + 1); i += 2
        case "--overwrite"       => overwrite = true; i += 1
        case "--subset"          => subset :+= args(i + 1); i += 2
        case other if other.startsWith("@") => // spec from file
          json = Some(Files.readString(Paths.get(other.drop(1)))); i += 1
        case other               => json = Some(other); i += 1
      }
    }
    val spec = LayerSpec.fromJson(json.getOrElse {
      System.err.println("usage: pixetl [--dest DIR] [--overwrite] [--subset TILE]… '<layer json>'")
      sys.exit(2)
    })

    val spark = GraftSession.local(s"pixetl ${spec.dataset}/${spec.version}")
    try {
      run(spark, spec, dest, overwrite,
        if (subset.nonEmpty) Some(subset.toSeq) else None)
        .foreach { case (s, n) => println(s"$s: $n") }
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"pixetl failed: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }

  /** Tile sink + the spec's pyramid choice: internal overviews (chained
    * IFDs, optionally COG head-first) ride the SAME write; the external
    * layout publishes plain tiles then builds `.ovr` sidecars next to
    * them (gdaladdo -ro semantics — the tiles stay byte-stable).
    *
    * Returns the sink's rows, one `(tile_id, path, n_blocks)` per written
    * tile, persisted and materialised here; the caller unpersists them.
    * Should a cached partition be lost, reading it again re-writes its
    * tiles with the same bytes. */
  private def writeWithPyramid(spark: org.apache.spark.sql.SparkSession,
      blocks: org.apache.spark.sql.DataFrame, spec: LayerSpec,
      outDir: String): org.apache.spark.sql.DataFrame = {
    val external = spec.overviewLayout == "external" && spec.overviewFactors.nonEmpty
    val written = (
      if (external) GeoTiffSpark.writeTiles(blocks, spec, outDir)
      else GeoTiffSpark.writeTiles(blocks, spec, outDir,
        overviewFactors = spec.overviewFactors,
        overviewMethod = spec.overviewResampling,
        cogLayout = spec.cog,
        overviewSeamExact = spec.overviewSeamExact)).persist()
    try {
      written.count()
      if (external)
        GeoTiffSpark.addOverviewSidecars(spark, outDir, spec,
          spec.overviewFactors, spec.overviewResampling,
          seamExact = spec.overviewSeamExact).count()
      written
    } catch {
      case e: Throwable => written.unpersist(); throw e
    }
  }

  /** Dual destination profiles (tiles/tile.py:54-97): the `gdal-geotiff`
    * variant differs only in creation options the codec normalizes away,
    * so it materializes as a copy of `outDir` into `gdalDir` —
    * DISTRIBUTED (Hadoop-FS per task): a driver-side loop would serialize
    * the whole second profile at 100k tiles. */
  private def copyProfile(spark: org.apache.spark.sql.SparkSession, outDir: String,
      gdalDir: String): Unit = {
    def abs(p: String) =
      if (p.contains("://")) p else Paths.get(p).toAbsolutePath.toString
    if (gdalDir.contains("://")) {
      val p = new org.apache.hadoop.fs.Path(gdalDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    } else Files.createDirectories(Paths.get(gdalDir))
    val (srcRoot, dstRoot) = (abs(outDir), abs(gdalDir))
    import spark.implicits._
    val confBytes = graft.sources.HadoopConfs.capture(
      spark.sparkContext.hadoopConfiguration)
    Catalog.existingTiles(spark, outDir).as[String].mapPartitions { ids =>
      graft.sources.HadoopConfs.install(confBytes)
      val conf = graft.sources.HadoopConfs.get
      ids.map { id =>
        // the tile AND any external .ovr sidecar — a dual profile
        // must not silently drop the pyramid the primary one has
        for (name <- Seq(s"$id.tif", s"$id.tif.ovr")) {
          val src = new org.apache.hadoop.fs.Path(s"$srcRoot/$name")
          val dst = new org.apache.hadoop.fs.Path(s"$dstRoot/$name")
          val sfs = src.getFileSystem(conf)
          val dfs = dst.getFileSystem(conf)
          dfs.setWriteChecksum(false)
          if (sfs.exists(src))
            org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst, false, true, conf)
        }
        id
      }
    }.count()
  }

  /** Publish the manifests of `summary` (with per-band stats when given)
    * and return its status tally. */
  private def publish(outDir: String, summary: LayerJob.Summary,
      stats: Option[org.apache.spark.sql.DataFrame]): Seq[(String, Long)] = {
    // streamed manifest write (zoom-22-safe)
    LayerJob.writeTilesGeojson(summary.manifest, s"$outDir/tiles.geojson", stats)
    Files.writeString(Paths.get(s"$outDir/extent.geojson"),
      LayerJob.renderExtentGeojson(summary.extent))
    summary.status.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Whether a source footprint (WKB) covers exactly one tile of `grid`,
    * to a thousandth of a pixel. */
  private[graft] def isGridTile(grid: graft.core.grid.Grid, footprint: Array[Byte]): Boolean = {
    val e = graft.functions.GeoFunctions.read(footprint).getEnvelopeInternal
    val c = e.centre()
    val t = grid.tileBounds(grid.pointTileId(c.x, c.y))
    val tol = 1e-3 * grid.xres
    math.abs(e.getMinX - t.left) <= tol && math.abs(e.getMaxX - t.right) <= tol &&
      math.abs(e.getMinY - t.bottom) <= tol && math.abs(e.getMaxY - t.top) <= tol
  }

  /** Resolve `pixetl://dataset/attr/grid/tiles.geojson` source uris (emitted
    * by [[SubmitJob]] for resampled `depends_on` grids) to the upstream
    * job's manifest under the same dest prefix — the reference's data-lake
    * naming convention. */
  private[graft] def resolvePixetlUris(spec: LayerSpec, dest: String): LayerSpec = {
    val Re = "pixetl://([^/]+)/([^/]+)/([^/]+/[^/]+)/tiles\\.geojson".r
    spec.copy(sourceUri = spec.sourceUri.map(_.map {
      case Re(ds, attr, grid) =>
        s"$dest/${spec.copy(dataset = ds, pixelMeaning = attr, grid = grid).prefix()}/tiles.geojson"
      case u => u
    }))
  }

  /** In-process job entry (SubmitJob's executor): the same pipeline as the
    * CLI on the CALLER's SparkSession — independent layer jobs interleave
    * their stages on one cluster instead of paying a session each. Throws
    * on failure; returns the status tally.
    *
    * The pixel plan runs once, in the sink. Everything published after it
    * (tiles.geojson, extent.geojson, the status tally) derives from the
    * tiles the sink wrote through the job's `summarize`, and the raster
    * stats (`.aux.xml` sidecars and the manifest's band stats) come from
    * one pinned pass of `tileStats`, restricted to the written tiles. The
    * pins are this job's own and are released when it ends; other jobs
    * sharing the session keep theirs. */
  def run(spark: org.apache.spark.sql.SparkSession, spec0: LayerSpec, dest: String,
          overwrite: Boolean, sub: Option[Seq[String]]): Seq[(String, Long)] = {
      val spec = resolvePixetlUris(spec0, dest)
      val outDir = s"$dest/${spec.prefix()}"
      Files.createDirectories(Paths.get(outDir))

      spec.sourceType match {
        case "raster" =>
          // plan-time catalog: manifest uris ending in .geojson are S2
          // manifests; anything else is harvested from file metadata (S4)
          val uris = spec.sourceUri.get
          // each source_uri contributes the next global band (A, B, C…) —
          // the reference's band concatenation (layers.py:171-237)
          val (catalog0, srcEpsg) =
            if (uris.forall(_.endsWith(".geojson")))
              (uris.zipWithIndex
                .map { case (u, i) => Catalog.fromTilesGeojson(spark, u, band = i + 1) }
                .reduce(_ unionByName _),
                4326) // tiles.geojson footprints are always 4326 (pixetl_prep.py:60-76)
            else {
              val harvested = uris.zipWithIndex.map { case (u, i) =>
                GeoTiffSpark.harvestCatalog(spark,
                    Catalog.listFolder(spark, u).collect().map(_.getString(0)).toSeq)
                  .withColumn("band", org.apache.spark.sql.functions.lit(i + 1))
              }.reduce(_ unionByName _)
              val epsgs = harvested.select("epsg").distinct().collect().map(_.getInt(0)).toSeq
              require(epsgs.size == 1, s"sources span multiple CRSs: $epsgs")
              (harvested.select("uri", "band", "file_band", "footprint"), epsgs.head)
            }
          // cross-CRS job (e.g. 4326 sources → zoom_N grid): plan in the
          // grid CRS and gather through the warp reader — the WarpedVRT
          // role of tiles/raster_src_tile.py:188-210
          val grid = spec.gridDef
          val gridEpsg = if (grid.crs == "EPSG:3857") 3857 else 4326
          // every spec kernel runs in the warp gather: interpolating ones
          // as separable taps, aggregates as footprint-box folds
          val kernel = spec.resampling match {
            case r @ ("nearest" | "bilinear" | "cubic" | "cubic_spline" |
                      "lanczos" | "gauss" | "average" | "sum" | "min" | "max" |
                      "mode" | "med" | "q1" | "q3" | "rms") => r
            case _ => "nearest"
          }
          // same CRS is NOT enough for the aligned block reader, which
          // reads a tile's block (r, c) as block (r, c) of one source file.
          // Every source must be exactly one grid tile: a source wider than
          // a tile matches CRS and lattice but not the block indexing (its
          // footprint, from the catalog, settles that), and a resample job
          // (90/27008 fed from 10/40000 output — the catalog's depends_on
          // chains) matches CRS but not lattice. Probe EVERY distinct
          // source's profile at plan time (the reference opens every
          // source, sources.py:179-210 — these are metadata-only reads,
          // distributed here): a mixed-resolution source set must not take
          // the aligned shortcut just because one sampled source happens to
          // match the grid.
          val aligned = srcEpsg == gridEpsg && {
            import spark.implicits._
            val sources = catalog0.dropDuplicates("uri")
              .select("uri", "footprint").as[(String, Array[Byte])].collect()
            require(sources.nonEmpty,
              s"no sources found for ${spec.dataset}/${spec.version}: " +
                s"catalog resolved from ${uris.mkString(", ")} is empty")
            sources.forall { case (_, fp) => isGridTile(grid, fp) } &&
              GeoTiffSpark.harvestResolutions(spark, sources.map(_._1).toSeq)
                .forall { case (xres, yres) =>
                  math.abs(xres - grid.xres) <= 1e-9 * grid.xres &&
                    math.abs(yres - grid.yres) <= 1e-9 * grid.yres
                }
          }
          val (catalog, reader) =
            if (aligned) (catalog0, GeoTiffSpark.reader)
            else if (srcEpsg == gridEpsg)
              (catalog0, graft.sources.WarpReader.reader(grid.xres, grid.yres,
                grid.blockSize, grid.crs, grid.crs, kernel))
            else (Catalog.reprojectFootprints(catalog0, s"EPSG:$srcEpsg", grid.crs),
              graft.sources.WarpReader.reader(grid.xres, grid.yres, grid.blockSize,
                grid.crs, s"EPSG:$srcEpsg", kernel))
          val existing = Catalog.existingTiles(spark, outDir)
          val result = LayerJob.run(spark, spec, catalog, reader,
            subset = sub, existing = Some(existing), overwrite = overwrite)
          val written = writeWithPyramid(spark, result.blocks, spec, outDir)
          // stats once, over the written tiles only: with no nodata value,
          // a tile whose blocks are all masked has a stats row but no tile,
          // and must get neither a sidecar nor a manifest entry
          val stats = Option.when(spec.computeStats)(result.tileStats
            .join(written.select("tile_id"), Seq("tile_id"), "left_semi").persist())
          try {
            copyProfile(spark, outDir, s"$dest/${spec.prefix(fmt = "gdal-geotiff")}")
            stats.foreach(st => GeoTiffSpark.writeStatsSidecars(st, outDir,
              grid.cols.toLong * grid.rows).count())
            publish(outDir, result.summarize(written.select("tile_id")), stats)
          } finally {
            stats.foreach(_.unpersist())
            written.unpersist()
          }
        case "vector" =>
          // S7: features from a live PostGIS via ONE partitioned JDBC scan
          // with the envelope predicate pushed into the database
          // (schema = dataset, table = version, sources.py:32-36), or from
          // a parquet snapshot when no database is configured. The burn
          // calc stays engine-side (P3 in VectorJob) either way.
          val features = sys.env.get("GRAFT_JDBC_URL") match {
            case Some(url) =>
              graft.sources.VectorSource.readJdbc(spark, url,
                schema = spec.dataset, table = spec.version,
                field = "value", calc = None,
                bounds = graft.core.grid.Bounds(-180, -90, 180, 90),
                order = spec.order)
            case None => spark.read.parquet(sys.env.getOrElse("GRAFT_FEATURES",
              s"$dest/features.parquet"))
          }
          val result = VectorJob.run(spark, spec, features, subset = sub)
          val written = writeWithPyramid(spark, result.blocks, spec, outDir)
          try publish(outDir, result.summarize(written.select("tile_id")), None)
          finally written.unpersist()
      }
  }
}

/** `gdaladdo -ro` twin CLI: build EXTERNAL `.ovr` overview sidecars for an
  * already-published destination without rewriting the tiles — the step
  * consumers of the reference's overview-less COGs run through GDAL today.
  *
  *   addo [--dest DIR] [--method KERNEL] [--factors 2,4,8] '<layer json>'
  *
  * The layer json is the SAME spec the publish ran with (it carries the
  * grid/data-type/prefix); factors default to the spec's own
  * `overviews`/auto chain. Exit 0 on success, 1 on failure. */
object Addo {
  def main(args: Array[String]): Unit = {
    var dest = "out"
    var method: Option[String] = None // default: the spec's own kernel
    var factors = Seq.empty[Int]
    var subset = Vector.empty[String]
    var json: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dest" | "-d" => dest = args(i + 1); i += 2
        case "--method"      => method = Some(args(i + 1)); i += 2
        case "--subset"      => subset :+= args(i + 1); i += 2
        case "--factors"     =>
          factors = args(i + 1).split(",").map(_.trim.toInt).toSeq; i += 2
        case other if other.startsWith("@") =>
          json = Some(Files.readString(Paths.get(other.drop(1)))); i += 1
        case other           => json = Some(other); i += 1
      }
    }
    val spec = LayerSpec.fromJson(json.getOrElse {
      System.err.println(
        "usage: addo [--dest DIR] [--method KERNEL] [--factors 2,4,…] '<layer json>'")
      sys.exit(2)
    })
    val resolved =
      if (factors.nonEmpty) factors
      else if (spec.overviewFactors.nonEmpty) spec.overviewFactors
      else spec.copy(autoOverviews = true, overviews = Nil).overviewFactors
    val spark = GraftSession.local(s"addo ${spec.dataset}/${spec.version}")
    try {
      val written = GeoTiffSpark.addOverviewSidecars(spark,
        s"$dest/${spec.prefix()}", spec, resolved,
        // the SAME kernel the spec publishes with, unless overridden —
        // an 'average' default would corrupt categorical (mode) pyramids
        method.getOrElse(spec.overviewResampling),
        subset = if (subset.nonEmpty) Some(subset.toSet) else None).collect()
      written.foreach(r => println(s"${r.getString(0)}: ${r.getString(1)}"))
      println(s"overviews: ${written.length} sidecars, factors ${resolved.mkString(",")}")
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"addo failed: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}

/** CLI parity with `pixetl_prep` (`gfw_pixetl/pixetl_prep.py:18-100`): build
  * tiles.geojson + extent.geojson manifests from raw file uris — the
  * one-stage metadata job of SURVEY §3.2. */
object PixetlPrep {
  def main(args: Array[String]): Unit = {
    val (flags, uris) = args.partition(_.startsWith("--"))
    val dest = flags.collectFirst { case f if f.startsWith("--dest=") => f.drop(7) }
      .getOrElse("out")
    val mergeExisting = flags.contains("--merge_existing")
    require(uris.nonEmpty,
      "usage: pixetl_prep [--dest=DIR] [--merge_existing] <uri.tif>…")
    val spark = GraftSession.local("pixetl_prep")
    try {
      run(spark, dest, uris.toSeq, mergeExisting)
      sys.exit(0)
    } catch {
      case e: Throwable => System.err.println(s"pixetl_prep failed: ${e.getMessage}"); sys.exit(1)
    } finally spark.stop()
  }

  /** Build tiles.geojson + extent.geojson at `dest` from the harvested
    * uris. With `mergeExisting`, features already listed in
    * `dest/tiles.geojson` are CARRIED OVER into the new manifests —
    * the reference's `--merge_existing` (`pixetl_prep.py:39-53`, merged
    * as processed + existing in `utils/upload_geometries.py:41-44`);
    * a uri present in both keeps its freshly harvested footprint. */
  def run(spark: org.apache.spark.sql.SparkSession, dest: String,
          uris: Seq[String], mergeExisting: Boolean = false): Unit = {
    import graft.functions.{GeoFunctions, GeomUnionAgg}
    import org.apache.spark.sql.functions._
    val cat = GeoTiffSpark.harvestCatalog(spark, uris)
      .select(col("uri"), col("footprint"))
    val existingManifest = s"$dest/tiles.geojson"
    val all =
      if (mergeExisting && graft.sources.Catalog.exists(spark, existingManifest)) {
        val existing = graft.sources.Catalog
          .fromTilesGeojson(spark, existingManifest)
          .select(col("uri"), col("footprint"))
          .join(cat.select("uri"), Seq("uri"), "left_anti")
        cat.unionByName(existing)
      } else cat
    val tiles = all.select(col("uri"),
      GeoFunctions.st_asGeoJson(col("footprint")).as("geometry"))
      .orderBy("uri").collect()
      .map(r => s"""{"type":"Feature","geometry":${r.getString(1)},""" +
        s""""properties":{"name":"${r.getString(0)}"}}""")
    val extent = all.agg(GeomUnionAgg.column(col("footprint")).as("u"))
      .select(GeoFunctions.st_asGeoJson(col("u"))).collect()(0).getString(0)
    Files.createDirectories(Paths.get(dest))
    Files.writeString(Paths.get(s"$dest/tiles.geojson"),
      s"""{"type":"FeatureCollection","features":[${tiles.mkString(",")}]}""")
    Files.writeString(Paths.get(s"$dest/extent.geojson"),
      s"""{"type":"FeatureCollection","features":[{"type":"Feature","geometry":$extent,"properties":{}}]}""")
  }
}
