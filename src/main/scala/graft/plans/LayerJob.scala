package graft.plans

import graft.core.LayerSpec
import graft.functions.{GeoFunctions, GeomUnionAgg}
import graft.operators.Raster
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end raster layer job — the Spark re-expression of the pixetl
  * CLI lifecycle (SURVEY §3.1). All of the reference's process boundaries
  * (parallelpipe stages, per-window forks, GDAL subprocesses) collapse into
  * ONE lazy DataFrame program:
  *
  *   tiles seed (S1) → subset filter (F1) → source-intersect semi-join (F2/J1,
  *   catalog broadcast) → existing anti-join (F3/J6) → file assignment (J2) →
  *   block expansion → block read (S5, pluggable reader) → mosaic coalesce
  *   (J3) → band zip (J4) → calc (P1) → cast/fill (P2) → empty-block filter
  *   (F5) → sinks: block store (K1 stand-in), per-tile stats (A3), manifests
  *   (A6/A7/K3), status tally (A8).
  *
  * The manifests and the status tally are one function of the set of
  * processed tiles ([[Result.summarize]]), not of the pixel plan: a caller
  * that has already written the blocks passes the tiles its sink wrote and
  * publishes without re-running the read → calc pipeline (`Pixetl.run`).
  * `Result.manifest`/`extent`/`status` apply it to the tiles of `blocks`.
  *
  * Scale design: everything partitions by tile_id from the seed on; the only
  * shuffles are (a) the block groupBy for mosaic overlap — keyed
  * (tile, band, block), map-side combined — and (b) the final per-tile
  * metadata aggregation, whose input is already 5-number partials per block.
  * The catalog side of every join is broadcast.
  */
object LayerJob {

  /** A block reader turns (tile_id, band, block_row, block_col, width,
    * height, uri, priority) work rows into pixel rows (+values, +valid).
    * Production: a GeoTIFF decoder; tests/bench: Raster.synthesizeBand. */
  type BlockReader = DataFrame => DataFrame

  /** What a job publishes besides its tiles, for one processed-tile set. */
  final case class Summary(
      manifest: DataFrame,   // per-tile footprint + metadata (tiles.geojson rows)
      extent: DataFrame,     // 1-row geometric union (extent.geojson)
      status: DataFrame)     // status tally (A8)

  /** A job's pixel blocks plus [[Summary]] as a function of the processed
    * tiles (a relation with a `tile_id` column; duplicates are harmless).
    * The `manifest`/`extent`/`status` accessors summarize the tiles of
    * `blocks`, which re-runs the pixel plan; a caller that has written the
    * blocks summarizes the written tiles instead. */
  trait Summarized {
    def blocks: DataFrame
    def summarize: DataFrame => Summary
    private lazy val ofBlocks = summarize(blocks.select("tile_id"))
    def manifest: DataFrame = ofBlocks.manifest
    def extent: DataFrame = ofBlocks.extent
    def status: DataFrame = ofBlocks.status
  }

  final case class Result(
      blocks: DataFrame,     // output pixel blocks (post calc/fill)
      tileStats: DataFrame,  // per (tile_id, band) A3 stats
      summarize: DataFrame => Summary,
      tileHistogram: Option[DataFrame] = None) // per (tile_id, band) A4 buckets
    extends Summarized

  def run(spark: SparkSession, spec: LayerSpec, catalog: DataFrame,
          reader: BlockReader, subset: Option[Seq[String]] = None,
          existing: Option[DataFrame] = None, overwrite: Boolean = false): Result = {
    val grid = spec.gridDef
    // J4 alignment: `band` is the GLOBAL band position (A, B, C…);
    // `file_band` the index inside the source file (layers.py:171-237)
    val cat = if (catalog.columns.contains("file_band")) catalog
      else catalog.withColumn("file_band", col("band"))

    // --- plan: tiles after F1/F2/F3 -------------------------------------
    val seed = grid.tilesDF(spark)
    val subsetted = subset.fold(seed)(ids => seed.filter(col("tile_id").isin(ids: _*)))

    // F2/J1: keep tiles whose interior intersects the LAYER geometry —
    // the union (union_bands=true) or polygonal INTERSECTION (the
    // reference default) of the per-band footprint unions
    // (layers.py:239-258, utils/utils.py:187-225). Single-band layers and
    // union semantics shortcut to the any-footprint broadcast semi-join
    // (identical result, no plan-time aggregation job); the predicate is
    // the interiors-intersect test of raster_src_tile.py:155-161.
    val tileEnv = GeoFunctions.st_makeEnvelope(col("left"), col("bottom"), col("right"), col("top"))
    val inBandCount = spec.sourceUri.map(_.length).getOrElse(1)
    val withSource =
      if (spec.unionBands || inBandCount == 1)
        subsetted.join(broadcast(cat.select(col("footprint").as("src_fp"))),
          GeoFunctions.st_intersectsInterior(tileEnv, col("src_fp")), "left_semi")
      else {
        // per-band unions aggregate distributed (partial-combined); the
        // band intersection folds on the driver over ≤bandCount geometries
        val bandGeoms = cat.groupBy("band")
          .agg(GeomUnionAgg.column(col("footprint")).as("g"))
          .collect().map(r => GeoFunctions.read(r.getAs[Array[Byte]]("g")))
        require(bandGeoms.nonEmpty, "Input bands do not overlap") // empty catalog
        val layerGeom = bandGeoms.reduce(GeoFunctions.intersectionPolygonal)
        require(!layerGeom.isEmpty, "Input bands do not overlap") // layers.py:255-257
        subsetted.filter(
          GeoFunctions.st_intersectsInterior(tileEnv, lit(GeoFunctions.write(layerGeom))))
      }

    // F3/J6: skip already-materialized tiles unless overwrite
    val (pending, existingTiles) = existing match {
      case Some(ex) if !overwrite =>
        (withSource.join(broadcast(ex), Seq("tile_id"), "left_anti"),
         withSource.join(broadcast(ex), Seq("tile_id"), "left_semi"))
      case _ => (withSource, spark.emptyDataFrame)
    }

    // J2: file assignment — which files feed which tile, per band.
    // Priority = manifest order (layers.py:196-228) under gdalbuildvrt
    // overlay semantics (utils/gdal.py:56-95): LATER-listed files override
    // earlier ones, so the last file per band gets rank 1 and wins the J3
    // fold. Catalogs may carry an explicit `manifest_idx` (tiles.geojson
    // feature order); otherwise (band, uri) order stands in for it.
    val ordered =
      if (cat.columns.contains("manifest_idx")) cat
      else cat.withColumn("manifest_idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("band", "uri")))
    val prioritized = ordered
      .select(col("uri"), col("band"), col("file_band"), col("footprint"), col("manifest_idx"))
      .withColumn("priority", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("band")
          .orderBy(col("manifest_idx").desc)))
      .drop("manifest_idx")
    val work = pending.join(broadcast(prioritized),
      GeoFunctions.st_intersectsInterior(tileEnv, col("footprint")))

    // --- blocks: expand, read, mosaic, zip ------------------------------
    // Spread the block grid across the session's full parallelism BEFORE
    // the read: the exploded work list inherits the tile seed's partition
    // count, so a 2-tile subset job would otherwise read + compute its
    // ~200 Mpx on TWO cores (measured r15 — the bench pipeline ran at 2/32
    // occupancy). The shuffled rows are narrow work descriptors (ids +
    // uri), not pixels.
    val blockWork = Raster.tilesToBlocks(
      work.select("tile_id", "left", "bottom", "right", "top", "uri", "band",
          "file_band", "priority")
        .dropDuplicates("tile_id", "uri", "band"), grid)
      .repartition(graft.core.Partitions.sessionParallelism(spark))
    val readBlocks = reader(blockWork)

    // J3: mosaic overlap — per pixel, the first layer in priority order
    // whose VALID bit is set wins (VRT order semantics of
    // utils/gdal.py:56-95). Readers emit non-null value arrays with nodata
    // signaled only in `valid`, so invalid pixels are nulled out BEFORE the
    // fold — a nodata hole in the top file falls through to lower files
    // instead of leaking its sentinel as real data.
    //
    // SINGLE-SOURCE BYPASS: when no (tile, band) of the plan-time work
    // assignment sees more than one source, every block has exactly one
    // (uri, priority) row and the overlay is the identity. The groupBy
    // would shuffle EVERY pixel array just to wrap and unwrap it — at
    // 100 TB that is the single largest avoidable exchange of the job —
    // and the downstream calc re-derives the masking from `valid`, so the
    // pre-fold null-out is unnecessary too: the whole pixel plane stays
    // NARROW from read to sink. Keyed per (tile, band), NOT per band
    // (ADVICE r15): the common tiled layout — many non-overlapping uris
    // per band, one per tile — has catalog-wide counts ≫ 1 but exactly one
    // layer per block, and must bypass. TWO-TIER probe (VERDICT r16 #2):
    // a band with ≤1 uri catalog-wide can never overlay, so the cheap
    // catalog-only count (no tile join, no window fan-out — the job that
    // r15 ran) settles the common single-source case outright; only a
    // multi-uri band escalates to the exact per-(tile,band) probe over the
    // tile⋈catalog join (ids only, no pixels). Run unconditionally, that
    // exact probe's extra Spark job doubled the bench pipeline's build
    // constant — the r15→r16 drift, bisected via tools/PipeAB.
    val anyBandMulti = prioritized.groupBy("band").count()
      .filter(col("count") > 1).limit(1).count() > 0
    val multiSource = anyBandMulti &&
      work.groupBy(col("tile_id"), col("band"))
        .agg(countDistinct(col("uri")).as("n"))
        .filter(col("n") > 1).limit(1).count() > 0
    val mosaicked = if (!multiSource) {
      readBlocks.select(col("tile_id"), col("band"), col("block_row"),
        col("block_col"), col("width"), col("height"), col("values"), col("valid"))
    } else {
      val masked = readBlocks.withColumn("values",
        Raster.maskValues(col("values"), col("valid")))
      masked
        .groupBy("tile_id", "band", "block_row", "block_col", "width", "height")
        .agg(sort_array(collect_list(struct(col("priority"), col("values"), col("valid"))))
          .as("layers"))
        // primitive overlay fold (graft.functions.MosaicFold): first
        // non-null value per pixel in priority order + 3VL OR of validity,
        // one pass over the layer list, both arrays built together
        .withColumn("__m", graft.functions.BlockKernels.mosaicFold(col("layers")))
        .withColumn("values", col("__m")("values"))
        .withColumn("valid", col("__m")("valid"))
        .drop("layers", "__m")
    }

    // J4: band alignment zip — full outer join across bands on the block
    // key; a band with no coverage contributes null pixels (K4 padding).
    val bandCount = spec.sourceUri.map(_.length).getOrElse(1)
    val key = Seq("tile_id", "block_row", "block_col", "width", "height")
    val perBand = (1 to bandCount).map { b =>
      mosaicked.filter(col("band") === b)
        .select(key.map(col) :+ col("values").as(s"v$b") :+ col("valid").as(s"k$b"): _*)
    }
    val zipped = perBand.reduce((l, r) => l.join(r, key, "full_outer"))

    // P1 + P2 in ONE kernel pass per band: calc over band arrays (defaults
    // to identity on band A) with the cast + nodata fill fused into the
    // same per-pixel formula — the intermediate calc-typed array never
    // materializes (it was a full block write + read per band).
    val calcExpr = spec.calc.getOrElse("A")
    val bandVals = (1 to bandCount).map(b => col(s"v$b"))
    val bandOks  = (1 to bandCount).map(b => col(s"k$b"))
    val pt = spec.pixelType
    val outBands = Raster.blockCalcThen(calcExpr, bandVals, bandOks) { v =>
      (pt.noData match {
        case Some(nd) => coalesce(v, lit(nd))
        case None     => v
      }).cast(pt.sparkType.simpleString)
    }
    require(outBands.length == spec.bandCount,
      s"calc produced ${outBands.length} bands, spec declares ${spec.bandCount} (array_utils.py:74-80)")
    val outCols = outBands.zipWithIndex.map { case (b, i) => b.as(s"band_${i + 1}") }
    val computed = zipped.select(key.map(col) ++ outCols: _*)

    // F5/F6: drop empty blocks (null-only arrays)
    val nonEmptyBare = pt.noData match {
      case Some(_) => computed // filled blocks always have data
      case None => computed.filter(
        (1 to spec.bandCount).map(i =>
          size(filter(col(s"band_$i"), _.isNotNull)) > 0).reduce(_ || _))
    }
    // re-attach tile georeferencing for the sink (tiny broadcast join —
    // the bounds were shed before the mosaic shuffle to keep rows narrow)
    val nonEmpty = nonEmptyBare.join(
      broadcast(pending.select("tile_id", "left", "bottom", "right", "top")), "tile_id")

    // --- aggregations ----------------------------------------------------
    // A3 per (tile, band): one array pass per block, tiny shuffle of partials
    val statsIn = (1 to spec.bandCount).map { i =>
      computed.select(col("tile_id"), lit(i).as("band"),
        Raster.blockPartialStats(
          col(s"band_$i").cast("array<double>"),
          Raster.validMask(col(s"band_$i"), pt.sparkType, pt.noData)).as("partial"))
    }.reduce(_ unionByName _)
    val tileStats = Raster.combineStats(statsIn, Seq("tile_id", "band"))

    // A4 per (tile, band) when requested: per-block bucket partials summed
    // elementwise — the gdalinfo -hist shape {count, min, max, buckets[]}
    // (models/pydantic.py:81-85) over the pixel type's storage range.
    val tileHist =
      if (!spec.computeHistogram) None
      else {
        val (lo, hi) = pt.range
        val nb = 256
        val histIn = (1 to spec.bandCount).map { i =>
          computed.select(col("tile_id"), lit(i).as("band"),
            explode(Raster.bucketIndex(
              col(s"band_$i").cast("array<double>"),
              Raster.validMask(col(s"band_$i"), pt.sparkType, pt.noData),
              lo, math.min(hi, 65536.0), nb)).as("pos"))
            .where(col("pos").isNotNull)
        }.reduce(_ unionByName _)
        Some(histIn
          .groupBy("tile_id", "band", "pos").agg(count(lit(1)).as("n"))
          .groupBy("tile_id", "band")
          .agg(map_from_arrays(collect_list("pos"), collect_list("n")).as("m"))
          .select(col("tile_id"), col("band"),
            transform(sequence(lit(0), lit(nb - 1)),
              i => coalesce(element_at(col("m"), i), lit(0L))).as("buckets"))
          .drop("m"))
      }

    def summarize(processed: DataFrame): Summary = {
      val done = pending.join(processed.select("tile_id"), Seq("tile_id"), "left_semi")
      // A8: status algebra (pipe.py:137-168; skip reasons raster_pipe.py:62-81)
      val doneIds = done.select("tile_id")
      val notIntersecting = subsetted.select("tile_id")
        .join(withSource.select("tile_id"), Seq("tile_id"), "left_anti")
        .withColumn("status", lit("skipped (does not intersect)"))
      val skipped = pending.select("tile_id")
        .join(doneIds, Seq("tile_id"), "left_anti")
        .withColumn("status", lit("skipped (has no data)"))
        .unionByName(notIntersecting)
      val existed =
        if (existingTiles.columns.contains("tile_id"))
          existingTiles.select("tile_id").withColumn("status", lit("existing"))
        else spark.emptyDataFrame.withColumn("tile_id", lit("")).withColumn("status", lit(""))
            .limit(0)
      val status = doneIds.withColumn("status", lit("processed"))
        .unionByName(skipped).unionByName(existed)
        .groupBy("status").agg(count(lit(1)).as("n"))
      summary(spec, done, status)
    }

    Result(nonEmpty, tileStats, summarize, tileHist)
  }

  /** The [[Summary]] of the processed tiles `done` (with their bounds) and
    * their status tally: tiles.geojson rows of tile footprint + dst uri (K3
    * shape) and the geometric union of the footprints (A6, extent.geojson). */
  private[plans] def summary(spec: LayerSpec, done: DataFrame, status: DataFrame): Summary = {
    val env = GeoFunctions.st_makeEnvelope(col("left"), col("bottom"), col("right"), col("top"))
    val manifest = done
      .select(col("tile_id"), col("left"), col("bottom"), col("right"), col("top"),
        concat(lit(spec.prefix() + "/"), col("tile_id"), lit(".tif")).as("uri"),
        GeoFunctions.st_asGeoJson(env).as("geometry"))
    val extent = manifest
      .select(env.as("g"))
      .agg(GeomUnionAgg.column(col("g")).as("extent_wkb"))
      .select(GeoFunctions.st_asGeoJson(col("extent_wkb")).as("geometry"))
    Summary(manifest, extent, status)
  }

  /** Manifest sink (K3): render tiles.geojson + extent.geojson strings.
    * Aggregated rows are tiny (one per tile) — rendered on the driver like
    * the reference (`utils/upload_geometries.py:31-59`). When `tileStats`
    * is given, each feature carries the per-band stats of the reference's
    * `Metadata.bands` shape (`models/pydantic.py:81-114`), NaN-sanitized
    * like `utils/geometry.py:51-59`. */
  def renderTilesGeojson(manifest: DataFrame, tileStats: Option[DataFrame] = None): String = {
    // Deep-zoom guard (VERDICT r15 #5): a WM z≥14 grid is millions of
    // tiles, and the collect-based render below holds Row objects + stats
    // maps + per-feature strings + the mkString doubling — ~6-8× the
    // output size in driver transients. Past the threshold, route through
    // the streaming writer (one partition of driver memory + the file) and
    // return the read-back string — the string itself is the caller's ask
    // and the only O(rows) term left. Below it, keep the driver render:
    // it is the reference-identical code path (upload_geometries.py:31-59)
    // and LayerJobSpec asserts the two renderers byte-identical.
    //
    // NOTE (ADVICE r16): even the streamed branch returns one driver-side
    // String — the API's contract. Callers with multi-GB manifests (WM
    // z≥14) should call [[writeTilesGeojson]] directly and keep a path;
    // this method's String result is bounded only by driver heap. The
    // threshold probe is a LIMIT count (stops scanning at the threshold),
    // not a full count over millions of rows on every small render.
    if (manifest.limit(RenderCollectMax.toInt + 1).count() > RenderCollectMax) {
      val tmp = java.nio.file.Files.createTempFile("tiles-", ".geojson")
      try {
        writeTilesGeojson(manifest, tmp.toString, tileStats)
        new String(java.nio.file.Files.readAllBytes(tmp),
          java.nio.charset.StandardCharsets.UTF_8)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else renderTilesCollect(manifest, tileStats)
  }

  /** Manifests above this row count render via [[writeTilesGeojson]]. */
  private[graft] val RenderCollectMax = 100000L

  private def renderTilesCollect(manifest: DataFrame,
                                 tileStats: Option[DataFrame]): String = {
    val statsByTile: Map[String, Seq[String]] = tileStats match {
      case None => Map.empty
      case Some(st) => st.orderBy("tile_id", "band").collect().toSeq.groupBy(
          _.getAs[String]("tile_id")).view.mapValues(_.map { r =>
          def num(name: String): String = {
            val v = r.getAs[Double](name)
            if (v.isNaN || v.isInfinite) "null" else v.toString
          }
          s"""{"band":${r.getAs[Int]("band")},"min":${num("stat_min")},""" +
            s""""max":${num("stat_max")},"mean":${num("stat_mean")},""" +
            s""""std_dev":${num("stat_std")},"count":${r.getAs[Long]("n")}}"""
        }).toMap
    }
    val feats = manifest.orderBy("tile_id").collect().map { r =>
      val tileId = r.getAs[String]("tile_id")
      val bands = statsByTile.get(tileId)
        .map(bs => s""","bands":[${bs.mkString(",")}]""").getOrElse("")
      s"""{"type":"Feature","geometry":${r.getAs[String]("geometry")},""" +
        s""""properties":{"name":"${r.getAs[String]("uri")}"$bands}}"""
    }
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }

  /** Streamed K3 sink: the same tiles.geojson as [[renderTilesGeojson]],
    * but features are rendered as a DataFrame column and streamed to the
    * file via `toLocalIterator` — one partition of driver memory instead
    * of one giant string, so a zoom-22 manifest (268 M tiles) writes
    * without materializing. Scheme-qualified paths go through Hadoop FS. */
  def writeTilesGeojson(manifest: DataFrame, path: String,
                        tileStats: Option[DataFrame] = None): Unit = {
    def num(c: Column): Column =
      when(c.isNull || isnan(c) || c === Double.PositiveInfinity ||
        c === Double.NegativeInfinity, lit("null")).otherwise(c.cast("string"))
    val withBands = tileStats match {
      case None => manifest.withColumn("bands_json", lit(null).cast("string"))
      case Some(st) =>
        val entry = concat(lit("{\"band\":"), col("band").cast("string"),
          lit(",\"min\":"), num(col("stat_min")), lit(",\"max\":"), num(col("stat_max")),
          lit(",\"mean\":"), num(col("stat_mean")), lit(",\"std_dev\":"), num(col("stat_std")),
          lit(",\"count\":"), col("n").cast("string"), lit("}"))
        val frags = st.groupBy("tile_id").agg(
          array_join(transform(
            sort_array(collect_list(struct(col("band"), entry.as("e")))), s => s("e")), ",")
            .as("bands_json"))
        manifest.join(frags, Seq("tile_id"), "left")
    }
    val feats = withBands.orderBy("tile_id").select(concat(
      lit("{\"type\":\"Feature\",\"geometry\":"), col("geometry"),
      lit(",\"properties\":{\"name\":\""), col("uri"), lit("\""),
      coalesce(concat(lit(",\"bands\":["), col("bands_json"), lit("]")), lit("")),
      lit("}}")).as("feat"))
    val hp = new org.apache.hadoop.fs.Path(
      if (path.contains("://")) path
      else java.nio.file.Paths.get(path).toAbsolutePath.toString)
    val fs = hp.getFileSystem(feats.sparkSession.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false) // no .crc droppings next to manifests
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(hp, true), "UTF-8"), 1 << 20)
    try {
      out.write("{\"type\":\"FeatureCollection\",\"features\":[")
      var first = true
      val it = feats.toLocalIterator()
      while (it.hasNext) {
        if (!first) out.write(",")
        out.write(it.next().getString(0))
        first = false
      }
      out.write("]}")
    } finally out.close()
  }

  def renderExtentGeojson(extent: DataFrame): String = {
    val rows = extent.collect()
    val geom = if (rows.isEmpty || rows(0).isNullAt(0)) "null" else rows(0).getString(0)
    s"""{"type":"FeatureCollection","features":[{"type":"Feature","geometry":$geom,"properties":{}}]}"""
  }
}
