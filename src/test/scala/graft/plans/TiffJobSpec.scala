package graft.plans

import graft.SparkSpec
import graft.core.LayerSpec
import graft.operators.Resample
import graft.sources.{GeoTiff, GeoTiffSpark}
import java.nio.file.{Files, Paths}

/** Full-loop integration: write tiled GeoTIFF sources, harvest the catalog
  * from their metadata (S4), run the layer job reading real blocks (S5),
  * sink per-tile GeoTIFFs (K1), and verify pixels end-to-end — the Spark
  * twin of the reference's e2e transform tests. */
class TiffJobSpec extends SparkSpec {

  private val spec = LayerSpec(
    dataset = "d", version = "v1", sourceType = "raster", pixelMeaning = "x",
    dataType = "uint16", calc = Some("A * 2"), grid = "90/1008",
    sourceUri = Some(Seq("file:///src")), noData = Some(Seq(0.0)))

  private val grid = spec.gridDef
  private def dir(n: String): String = {
    val d = Paths.get(s"target/tmp/tiffjob/$n")
    Files.createDirectories(d)
    d.toString
  }

  /** One source file per grid tile, aligned to the output grid; pixel value
    * = (tileIdx*7 + band) for easy assertions, nodata 0 on a stripe. */
  private def writeSource(tileIdx: Long): String = {
    val id = grid.tileId(tileIdx)
    val b = grid.tileBounds(id)
    val path = s"${dir("src")}/$id.tif"
    val profile = GeoTiff.Profile(
      width = grid.cols, height = grid.rows, bands = 1, dataType = "uint16",
      tileWidth = grid.blockSize, tileHeight = grid.blockSize,
      noData = Some(0.0), epsg = 4326,
      originX = b.left, originY = b.top, xres = grid.xres, yres = grid.yres)
    val w = new GeoTiff.Writer(path, profile)
    val n = grid.cols / grid.blockSize
    val value = (tileIdx * 7 + 1).toDouble
    for (tr <- 0 until n; tc <- 0 until n) {
      val px = Array.tabulate(grid.blockSize * grid.blockSize)(i =>
        if (i % 97 == 0) 0.0 else value) // nodata stripe
      w.writeTile(1, tr, tc, px)
    }
    w.close()
    path
  }

  test("source → catalog → job → tiff sink → read-back equals calc(input)") {
    val srcs = Seq(writeSource(0), writeSource(1)) // tiles 90N_180W, 90N_090W
    val catalog = GeoTiffSpark.harvestCatalog(spark, srcs)
      .selectExpr("uri", "band", "footprint")
    assert(catalog.count() == 2)

    val result = LayerJob.run(spark, spec, catalog, GeoTiffSpark.reader)
    val outDir = dir("out")
    val written = GeoTiffSpark.writeTiles(result.blocks, spec, outDir).collect()
    assert(written.length == 2)

    // read back tile 0: valid pixels must be input*2, nodata stripe refilled 0
    val t = GeoTiff.open(s"$outDir/${grid.tileId(0)}.tif")
    assert(t.profile.dataType == "uint16" && t.profile.noData.contains(0.0))
    val px = t.readTile(1, 0, 0)
    val expect = 2.0 * (0 * 7 + 1)
    assert(px.count(_ == expect) == px.length - px.count(_ == 0.0))
    assert(px.exists(_ == 0.0)) // the masked stripe stayed nodata
    // geo registration carried through
    assert(t.profile.originX == grid.tileBounds(grid.tileId(0)).left)
    assert(t.profile.xres == grid.xres)
  }

  test("K2 upload: scheme-qualified outDir routes via temp file + Hadoop FS copy") {
    val srcs = Seq(s"${dir("src")}/${grid.tileId(0)}.tif")
    val catalog = GeoTiffSpark.harvestCatalog(spark, srcs)
      .selectExpr("uri", "band", "footprint")
    val result = LayerJob.run(spark, spec, catalog, GeoTiffSpark.reader)
    val outLocal = dir("outFs")
    val outUri = s"file://${Paths.get(outLocal).toAbsolutePath}"
    val written = GeoTiffSpark.writeTiles(result.blocks, spec, outUri).collect()
    assert(written.length == 1 && written(0).getString(1).startsWith("file://"))
    // the object arrived at the destination scheme and decodes identically
    val t = GeoTiff.open(s"$outLocal/${grid.tileId(0)}.tif")
    val px = t.readTile(1, 0, 0)
    assert(px.exists(_ == 2.0) && px.exists(_ == 0.0))
  }

  test("multi-source band alignment: calc A + B across two source uris") {
    // two single-band files over the SAME tile; global bands 1 and 2
    import org.apache.spark.sql.functions._
    val srcA = s"${dir("src")}/${grid.tileId(0)}.tif"   // value 1 (written above)
    val srcB = s"${dir("srcB")}/${grid.tileId(0)}.tif"
    locally { // second source: constant 100, same grid/tile
      val b = grid.tileBounds(grid.tileId(0))
      val profile = GeoTiff.Profile(
        width = grid.cols, height = grid.rows, bands = 1, dataType = "uint16",
        tileWidth = grid.blockSize, tileHeight = grid.blockSize,
        noData = Some(0.0), epsg = 4326,
        originX = b.left, originY = b.top, xres = grid.xres, yres = grid.yres)
      val w = new GeoTiff.Writer(srcB, profile)
      val n = grid.cols / grid.blockSize
      for (tr <- 0 until n; tc <- 0 until n)
        w.writeTile(1, tr, tc, Array.fill(grid.blockSize * grid.blockSize)(100.0))
      w.close()
    }
    val cat =
      GeoTiffSpark.harvestCatalog(spark, Seq(srcA))
        .withColumn("band", lit(1)).select("uri", "band", "file_band", "footprint")
        .unionByName(GeoTiffSpark.harvestCatalog(spark, Seq(srcB))
          .withColumn("band", lit(2)).select("uri", "band", "file_band", "footprint"))
    val multiSpec = spec.copy(calc = Some("A + B"),
      sourceUri = Some(Seq("file:///a", "file:///b")))
    val result = LayerJob.run(spark, multiSpec, cat, GeoTiffSpark.reader,
      subset = Some(Seq(grid.tileId(0))))
    // input A = 1 everywhere except nodata stripe; B = 100 → A+B = 101
    val vals = result.blocks
      .select(explode(col("band_1")).as("v")).groupBy("v").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(vals.contains(101), s"got value histogram $vals")
    // masked A pixels (stripe) propagate null → filled with nodata 0
    assert(vals.contains(0))
    assert(vals.keySet == Set(0, 101))
  }

  test("multiband output: np.ma.array([A, B, A+B]) writes a 3-band tiff (RGB case)") {
    import org.apache.spark.sql.functions._
    val srcA = s"${dir("src")}/${grid.tileId(0)}.tif"
    val srcB = s"${dir("srcB")}/${grid.tileId(0)}.tif"
    val cat =
      GeoTiffSpark.harvestCatalog(spark, Seq(srcA))
        .withColumn("band", lit(1)).select("uri", "band", "file_band", "footprint")
        .unionByName(GeoTiffSpark.harvestCatalog(spark, Seq(srcB))
          .withColumn("band", lit(2)).select("uri", "band", "file_band", "footprint"))
    val mbSpec = spec.copy(calc = Some("np.ma.array([A, B, A + B])"), bandCount = 3,
      sourceUri = Some(Seq("file:///a", "file:///b")), photometric = Some("RGB"))
    val result = LayerJob.run(spark, mbSpec, cat, GeoTiffSpark.reader,
      subset = Some(Seq(grid.tileId(0))))
    val outDir = dir("outMb")
    GeoTiffSpark.writeTiles(result.blocks, mbSpec, outDir).collect()
    val t = GeoTiff.open(s"$outDir/${grid.tileId(0)}.tif")
    assert(t.profile.bands == 3)
    assert(t.profile.photometric.contains("RGB")) // PHOTOMETRIC creation option (tile.py:68-71)
    val b1 = t.readTile(1, 1, 1); val b2 = t.readTile(2, 1, 1); val b3 = t.readTile(3, 1, 1)
    // band3 == band1 + band2 wherever band1 is valid
    b1.indices.filter(i => b1(i) != 0.0).take(100).foreach { i =>
      assert(b3(i) == b1(i) + b2(i))
    }
    assert(result.tileStats.count() == 3) // stats per output band
  }

  test("writeTiles overviewFactors=Seq(2) sinks an internal pyramid per tile") {
    import spark.implicits._
    // custom 2x2-block grid (90/768 -> blockSize 384) so the overview
    // regroup exercises a full 4-quarter parent
    val ovSpec = spec.copy(grid = "90/768", calc = None)
    val g = ovSpec.gridDef
    val B = g.blockSize; val id = g.tileId(0); val b0 = g.tileBounds(id)
    assert(g.cols == 768 && B == 384)
    def v(gx: Int, gy: Int): Double =
      if ((gx * gy) % 13 == 0) 0.0 else ((gx + 2 * gy) % 997 + 1).toDouble
    val rows = for (br <- 0 until 2; bc <- 0 until 2) yield
      (id, b0.left, b0.top, br, bc,
        Seq.tabulate(B * B)(i => v(bc * B + i % B, br * B + i / B)))
    val blocks = rows.toDF("tile_id", "left", "top", "block_row", "block_col", "band_1")
    val outDir = dir("outOvr")
    val written = GeoTiffSpark.writeTiles(blocks, ovSpec, outDir,
      overviewFactors = Seq(2), overviewMethod = "nearest").collect()
    assert(written.length == 1 && written(0).getInt(2) == 4) // n_blocks = base only
    val levels = GeoTiff.openAll(s"$outDir/$id.tif")
    assert(levels.map(_.profile.width) == Seq(768, 384))
    assert(levels(1).profile.xres == 2 * g.xres)
    // level 1 = nearest decimation; masked base pixels stay nodata 0
    val ovr = levels(1).readTile(1, 0, 0)
    for (y <- 0 until 384 by 17; x <- 0 until 384 by 13)
      assert(ovr(y * 384 + x) == v(2 * x, 2 * y), s"ovr ($x,$y)")
    // base level reads back untouched
    val base = levels(0).readTile(1, 1, 1)
    assert(base(0) == v(384, 384))
  }

  test("writeTiles overviewMethod=cubic sinks TRUE cubic pixels (round 16)") {
    import spark.implicits._
    // an impulse field discriminates cubic from nearest AND average (a
    // linear ramp cannot: box average == bilinear == cubic on linear
    // fields at k=2). Background 256, +256 impulses on a sparse lattice;
    // the half-phase cubic taps are ±1/16 and 9/16, so every weighted sum
    // is an exact integer — byte-stable through the uint16 sink.
    val ovSpec = spec.copy(grid = "90/768", calc = None, noData = None)
    val g = ovSpec.gridDef
    val B = g.blockSize; val id = g.tileId(0); val b0 = g.tileBounds(id)
    def v(gx: Int, gy: Int): Double =
      if (gx % 7 == 3 && gy % 5 == 2) 512.0 else 256.0
    val rows = for (br <- 0 until 2; bc <- 0 until 2) yield
      (id, b0.left, b0.top, br, bc,
        Seq.tabulate(B * B)(i => v(bc * B + i % B, br * B + i / B)))
    val blocks = rows.toDF("tile_id", "left", "top", "block_row", "block_col", "band_1")
    val outDir = dir("outOvrCubic")
    GeoTiffSpark.writeTiles(blocks, ovSpec, outDir,
      overviewFactors = Seq(2), overviewMethod = "cubic").collect()
    val levels = GeoTiff.openAll(s"$outDir/$id.tif")
    assert(levels.map(_.profile.width) == Seq(768, 384))
    val ovr = levels(1).readTile(1, 0, 0)
    // independent tap reference (hardcoded — NOT ResampleTaps): output
    // (X, Y) gathers base (2X+dx, 2Y+dy), dx,dy in -1..2, w = cubicW(d-.5)
    val w = Array(-1.0 / 16, 9.0 / 16, 9.0 / 16, -1.0 / 16)
    var checked = 0
    for (y <- 0 until 384 by 11; x <- 0 until 384 by 13
         // interior to the generating quarter: the per-block kernel has no
         // halo, so taps must not cross the 192-px quarter seam
         if x % 192 >= 1 && x % 192 <= 190 && y % 192 >= 1 && y % 192 <= 190) {
      var exp = 0.0
      for (dy <- -1 to 2; dx <- -1 to 2)
        exp += w(dx + 1) * w(dy + 1) * v(2 * x + dx, 2 * y + dy)
      assert(ovr(y * 384 + x) == exp, s"cubic ovr ($x,$y)")
      checked += 1
    }
    assert(checked > 900) // the sparse sample still covers every quarter
    // and it is genuinely cubic: some sampled pixel must differ from both
    // the nearest pick and the 2x2 box average
    val differs = (0 until 384).exists { x =>
      val y = 1 // source rows 1..4 include impulse row gy=2 (gy%5==2)
      val near = v(2 * x, 2 * y)
      val avg = (v(2 * x, 2 * y) + v(2 * x + 1, 2 * y) +
        v(2 * x, 2 * y + 1) + v(2 * x + 1, 2 * y + 1)) / 4
      ovr(y * 384 + x) != near && ovr(y * 384 + x) != avg
    }
    assert(differs, "cubic output indistinguishable from nearest/average")
  }

  test("writeTiles overviewSeamExact=true crosses block seams like whole-raster gdaladdo") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // same impulse field as the cubic test above; with the neighbor halo
    // (VERDICT r16 #5) the tap window is the WHOLE tile raster, so the
    // reference convolution needs no interior-to-quarter restriction —
    // the seam-crossing outputs the block-local test must SKIP are
    // asserted here, including explicit probes either side of the 192-px
    // overview seam (base-384 block boundary)
    val ovSpec = spec.copy(grid = "90/768", calc = None, noData = None)
    val g = ovSpec.gridDef
    val B = g.blockSize; val id = g.tileId(0); val b0 = g.tileBounds(id)
    def v(gx: Int, gy: Int): Double =
      if (gx % 7 == 3 && gy % 5 == 2) 512.0 else 256.0
    val rows = for (br <- 0 until 2; bc <- 0 until 2) yield
      (id, b0.left, b0.top, br, bc,
        Seq.tabulate(B * B)(i => v(bc * B + i % B, br * B + i / B)))
    val blocks = rows.toDF("tile_id", "left", "top", "block_row", "block_col", "band_1")
    val outDir = dir("outOvrSeam")
    GeoTiffSpark.writeTiles(blocks, ovSpec, outDir,
      overviewFactors = Seq(2), overviewMethod = "cubic",
      overviewSeamExact = true).collect()
    val levels = GeoTiff.openAll(s"$outDir/$id.tif")
    assert(levels.map(_.profile.width) == Seq(768, 384))
    val ovr = levels(1).readTile(1, 0, 0)
    val w = Array(-1.0 / 16, 9.0 / 16, 9.0 / 16, -1.0 / 16)
    def ref(x: Int, y: Int): Double = {
      var exp = 0.0
      for (dy <- -1 to 2; dx <- -1 to 2)
        exp += w(dx + 1) * w(dy + 1) * v(2 * x + dx, 2 * y + dy)
      exp // exact: ±1/16 and 9/16 weights on integer pixels
    }
    var checked = 0
    val xs = (1 until 383 by 5) ++ Seq(191, 192)
    val ys = (1 until 383 by 7) ++ Seq(191, 192)
    for (y <- ys; x <- xs) {
      assert(ovr(y * 384 + x) == ref(x, y), s"seam-exact ovr ($x,$y)")
      checked += 1
    }
    assert(checked > 4000)
    // and the seam band genuinely differs from what block-local taps give:
    // at x=191 the window reads base 381..384 — base 384 lives in the
    // NEIGHBOR block, which the per-block kernel would drop+renormalize
    val localLeg = Resample.downsample(col("band_1"), B, B, 2, "cubic")
    val local = blocks.filter(col("block_row") === 0 && col("block_col") === 0)
      .select(localLeg.as("half")).collect()(0)
      .getSeq[Any](0).map(_.toString.toDouble)
    val seamDiffers = (0 until 192).exists(y =>
      local(y * 192 + 191) != ovr(y * 384 + 191))
    assert(seamDiffers, "halo did not change the seam band")
  }

  test("symbology bake -> 4-band RGBA tiff: gradient colors land on disk") {
    import spark.implicits._
    import graft.core.{RGBA, Symbology}
    val ovSpec = spec.copy(grid = "90/768", calc = None, dataType = "uint8",
      bandCount = 4, photometric = Some("RGB"), noData = Some(Seq(0.0)))
    val g = ovSpec.gridDef
    val B = g.blockSize; val id = g.tileId(0); val b0 = g.tileBounds(id)
    // value ramp 0..100 by column; nodata 0 rows bake transparent
    val rows = for (br <- 0 until 2; bc <- 0 until 2) yield
      (id, b0.left, b0.top, br, bc,
        Seq.tabulate(B * B)(i => if (i / B == 3) 0.0 else ((i % B) % 101).toDouble))
    val oneBand = rows.toDF("tile_id", "left", "top", "block_row", "block_col", "band_1")
    val sym = Symbology("gradient", Map(
      0.0 -> RGBA(0, 200, 255), 100.0 -> RGBA(100, 0, 55)))
    val baked = graft.functions.ColorMaps.bakeBlocks(oneBand, sym, noData = Some(0.0))
    val outDir = dir("outRgba")
    GeoTiffSpark.writeTiles(baked, ovSpec, outDir).collect()
    val t = GeoTiff.open(s"$outDir/$id.tif")
    assert(t.profile.bands == 4 && t.profile.dataType == "uint8")
    assert(t.profile.photometric.contains("RGB"))
    val r = t.readTile(1, 0, 0); val gg = t.readTile(2, 0, 0)
    val b = t.readTile(3, 0, 0); val a = t.readTile(4, 0, 0)
    // column x in 0..100: r = x, g = 200-2x, b = 255-2x, a = 255
    val x = 40; val px = 5 * B + x
    assert(r(px) == 40.0 && gg(px) == 120.0 && b(px) == 175.0 && a(px) == 255.0)
    // the nodata row (y=3) baked fully transparent
    val hole = 3 * B + x
    assert(r(hole) == 0.0 && a(hole) == 0.0)
  }

  test("gdaladdo twin: .ovr sidecars build distributed for a published dir") {
    writeSource(0)
    val catalog = GeoTiffSpark.harvestCatalog(spark,
        Seq(s"${dir("src")}/${grid.tileId(0)}.tif"))
      .selectExpr("uri", "band", "footprint")
    val result = LayerJob.run(spark, spec, catalog, GeoTiffSpark.reader,
      subset = Some(Seq(grid.tileId(0))))
    val outDir = dir("ovrout")
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(outDir))
    GeoTiffSpark.writeTiles(result.blocks, spec, outDir).collect()
    // plain published tile: one IFD, no pyramid
    val tifPath = s"$outDir/${grid.tileId(0)}.tif"
    assert(GeoTiff.openWithOverviews(tifPath).length == 1)

    val written = GeoTiffSpark.addOverviewSidecars(spark, outDir, spec,
      factors = Seq(2, 4), method = "average").collect()
    assert(written.length == 1 && written(0).getString(1).endsWith(".tif.ovr"))
    val levels = GeoTiff.openWithOverviews(tifPath)
    assert(levels.length == 3, s"expected base + 2 sidecar levels, got ${levels.length}")
    assert(levels(1).profile.width == grid.cols / 2 &&
      levels(2).profile.width == grid.cols / 4)
    assert(levels(1).profile.xres == grid.xres * 2)
    // base is calc(input) = 2*(0*7+1) = 2 outside the nodata stripe; the
    // nodata-excluding average of a constant field is the constant
    val ov = levels(2).readTile(1, 0, 0)
    assert(ov.forall(v => v == 2.0 || v == 0.0))
    assert(ov.count(_ == 2.0) > ov.length / 2, s"valid=${ov.count(_ == 2.0)}")
  }

  test("spec-driven COG + overviews: JSON spec → Pixetl.run → pyramided head-first tiff") {
    writeSource(0) // ensure the tile-0 source exists
    val json =
      s"""{"dataset": "d", "version": "v1", "source_type": "raster",
         |"pixel_meaning": "x", "data_type": "uint16", "calc": "A * 2",
         |"grid": "90/1008", "no_data": 0,
         |"source_uri": ["${dir("src")}"],
         |"overviews": [2], "overview_resampling": "average",
         |"cog": true}""".stripMargin
    val parsed = LayerSpec.fromJson(json)
    assert(parsed.overviewFactors == Seq(2) && parsed.cog)
    assert(parsed.overviewResampling == "average")
    // auto mode: true resolves the GDAL-COG default chain — halve WHILE
    // the previous level exceeds one block, ending at the first level
    // that fits: 1008 > 336 → add 2; 504 > 336 → add 4; 252 fits → stop
    val auto = LayerSpec.fromJson(json.replace("[2]", "true"))
    assert(auto.autoOverviews && auto.overviewFactors == Seq(2, 4))
    // malformed overviews fail LOUDLY, never a silent no-pyramid publish
    intercept[IllegalArgumentException](
      LayerSpec.fromJson(json.replace("[2]", "[2.5]")))
    intercept[IllegalArgumentException](
      LayerSpec.fromJson(json.replace("[2]", "\"auto\"")))

    val dest = dir("cogdest")
    graft.Pixetl.run(spark, parsed, dest, overwrite = true,
      sub = Some(Seq(grid.tileId(0))))
    val path = s"$dest/${parsed.prefix()}/${grid.tileId(0)}.tif"
    val levels = GeoTiff.openAll(path)
    assert(levels.length == 2, s"expected base + 1 overview, got ${levels.length}")
    assert(levels(1).profile.width == grid.cols / 2 &&
      levels(1).profile.xres == grid.xres * 2)
    // COG property: the IFD chain sits at the file head (classic header's
    // 4-byte pointer at offset 4 reads 8 — no seek to EOF to plan a read)
    val head = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)).take(8)
    val firstIfd = java.nio.ByteBuffer.wrap(head, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(firstIfd == 8, s"COG layout must put the first IFD at 8, got $firstIfd")
    // overview pixels: averages of valid (non-nodata) base pixels — the
    // base is constant 2.0 outside the masked stripe, so every quad with
    // at least one valid pixel reduces to exactly 2.0
    val ov = levels(1).readTile(1, 0, 0)
    assert(ov.forall(v => v == 2.0 || v == 0.0), s"unexpected overview values")
    assert(ov.count(_ == 2.0) > ov.length / 2)
  }

  test(".ovr build on an ODD block grid (3x3): ceil-halved level pads edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 90/528 resolves blockSize 176 (the largest multiple-of-16 divisor in
    // [128,512]) => 3x3 blocks; the halved level is ceil(3/2) = 2x2 blocks
    // of a 264-px image, edge quarters missing -> nodata pad
    val oddSpec = LayerSpec(dataset = "odd", version = "v1",
      sourceType = "raster", pixelMeaning = "x", dataType = "uint16",
      grid = "90/528", sourceUri = Some(Seq("mem")), noData = Some(Seq(0.0)))
    val g = oddSpec.gridDef
    assert(g.blockSize == 176 && g.cols / g.blockSize == 3)
    val id = g.tileId(0); val b0 = g.tileBounds(id)
    val blockIdx = spark.range(9).select(
      (col("id") / 3).cast("int").as("block_row"),
      (col("id") % 3).cast("int").as("block_col"))
    val blocks = spark.createDataset(Seq((id, b0.left, b0.top)))
      .toDF("tile_id", "left", "top")
      .crossJoin(broadcast(blockIdx))
      .withColumn("band_1",
        transform(sequence(lit(1), lit(176 * 176)), _ => lit(4.0)))
    val outDir = dir("oddout")
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(outDir))
    GeoTiffSpark.writeTiles(blocks, oddSpec, outDir).collect()
    GeoTiffSpark.addOverviewSidecars(spark, outDir, oddSpec,
      factors = Seq(2), method = "average").collect()
    val levels = GeoTiff.openWithOverviews(s"$outDir/$id.tif")
    assert(levels.length == 2)
    val l1 = levels(1)
    assert(l1.profile.width == 264 && l1.profile.tilesAcross == 2)
    // interior: average of constant 4s; the pad beyond 264 px stays 0
    assert(l1.readTile(1, 0, 0).forall(_ == 4.0))
    val edge = l1.readTile(1, 0, 1) // covers x 176..351, real data to 263
    val tw = 176
    val realCols = 264 - 176
    for (r <- 0 until 3; c <- 0 until tw) {
      val v = edge(r * tw + c)
      assert(if (c < realCols) v == 4.0 else v == 0.0,
        s"edge ($r,$c) = $v")
    }
  }

  test("overview_layout=external: Pixetl publishes plain tiles + .ovr sidecars") {
    writeSource(0)
    val json =
      s"""{"dataset": "dx", "version": "v1", "source_type": "raster",
         |"pixel_meaning": "x", "data_type": "uint16", "calc": "A * 2",
         |"grid": "90/1008", "no_data": 0,
         |"source_uri": ["${dir("src")}"],
         |"overviews": [2], "overview_layout": "external"}""".stripMargin
    val parsed = LayerSpec.fromJson(json)
    assert(parsed.overviewLayout == "external" && !parsed.cog)
    // a COG carries its pyramid internally — the combination is rejected
    intercept[IllegalArgumentException](parsed.copy(cog = true))

    val dest = dir("extdest")
    graft.Pixetl.run(spark, parsed, dest, overwrite = true,
      sub = Some(Seq(grid.tileId(0))))
    val path = s"$dest/${parsed.prefix()}/${grid.tileId(0)}.tif"
    // the tile itself stays a plain single-IFD file (byte-stable publish)
    assert(GeoTiff.openAll(path).length == 1)
    // ...but the pyramid is there through the sidecar
    val levels = GeoTiff.openWithOverviews(path)
    assert(levels.length == 2 && levels(1).profile.width == grid.cols / 2)
    assert(levels(1).profile.xres == grid.xres * 2)
  }

  test("a grid-resolution source two tiles wide publishes both tiles (not the aligned reader)") {
    // 2016 x 1008 px at the grid's resolution from (-180, 90): CRS and
    // resolution match the grid, but the file is not one tile, so its
    // block (r, c) is not tile block (r, c)
    val src = s"${dir("wide")}/wide.tif"
    val bs = grid.blockSize
    val (w, h) = (2 * grid.cols, grid.rows)
    def value(x: Int, y: Int): Double = 1 + (x * 3 + y * 5) % 20000
    val profile = GeoTiff.Profile(
      width = w, height = h, bands = 1, dataType = "uint16",
      tileWidth = bs, tileHeight = bs, noData = Some(0.0), epsg = 4326,
      originX = -180, originY = 90, xres = grid.xres, yres = grid.yres)
    val writer = new GeoTiff.Writer(src, profile)
    for (br <- 0 until h / bs; bc <- 0 until w / bs)
      writer.writeTile(1, br, bc,
        Array.tabulate(bs * bs)(i => value(bc * bs + i % bs, br * bs + i / bs)))
    writer.close()
    val cat = GeoTiffSpark.harvestCatalog(spark, Seq(src)).collect()(0)
    assert(!graft.Pixetl.isGridTile(grid, cat.getAs[Array[Byte]]("footprint")))

    val json =
      s"""{"dataset": "wide", "version": "v1", "source_type": "raster",
         |"pixel_meaning": "x", "data_type": "uint16", "calc": "A * 2",
         |"grid": "90/1008", "no_data": 0,
         |"source_uri": ["${dir("wide")}"]}""".stripMargin
    val parsed = LayerSpec.fromJson(json)
    val dest = dir("widedest")
    val status = graft.Pixetl.run(spark, parsed, dest, overwrite = true, sub = None).toMap
    assert(status("processed") == 2L)
    // each tile's last block is calc of the file's pixels at the tile's offset
    for ((id, x0) <- Seq(grid.tileId(0) -> 0, grid.tileId(1) -> grid.cols)) {
      val t = GeoTiff.open(s"$dest/${parsed.prefix()}/$id.tif")
      val n = grid.cols / bs
      val px = t.readTile(1, n - 1, n - 1)
      for (i <- px.indices)
        assert(px(i) == 2 * value(x0 + (n - 1) * bs + i % bs, (n - 1) * bs + i / bs),
          s"$id pixel $i")
    }
  }

  test("harvested catalog carries footprints usable by the spatial joins") {
    val srcs = Seq(s"${dir("src")}/${grid.tileId(0)}.tif")
    val cat = GeoTiffSpark.harvestCatalog(spark, srcs).collect()(0)
    val fp = graft.functions.GeoFunctions.read(cat.getAs[Array[Byte]]("footprint"))
    assert(fp.getEnvelopeInternal.getMinX == -180.0)
    assert(fp.getEnvelopeInternal.getMaxY == 90.0)
  }
}
