package perfbench

import graft.sources.{GeoTiff, GeoTiffSpark}
import java.nio.file.{Files, Path}
import org.json4s._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.json4s.jackson.JsonMethods

/** Output checks, run outside the timed region. Expected values come from
  * the generator (`Inputs`), evaluated independently of the engine; each
  * check returns the list of its failures (empty = pass). */
object Checks {

  def expectedStatus(workload: String): Map[String, Long] = workload match {
    case "raster_warp_mosaic" => Map("processed" -> 1L)
    case _ => Map("processed" -> 2L, "skipped (does not intersect)" -> 6L)
  }

  def tileIds(workload: String): Seq[String] = workload match {
    case "raster_warp_mosaic" => Seq(Inputs.warpGrid.tileId(0))
    case _ => Inputs.tiles
  }

  /** Raster jobs also publish the gdal-geotiff profile and the stats. */
  def raster(workload: String): Boolean = workload != "vector_burn"

  def status(workload: String, got: Seq[(String, Long)]): Seq[String] =
    if (got.toMap == expectedStatus(workload) && got.size == got.toMap.size) Nil
    else Seq(s"status tally $got, expected ${expectedStatus(workload)}")

  def outDir(workload: String, dir: Path): Path =
    dir.resolve(Workloads.spec(workload, dir).prefix())

  /** Read back every pixel of an output tile (row-major). */
  def readTile(path: Path): (GeoTiff.Profile, Array[Double]) = {
    val t = GeoTiff.open(path.toString)
    val p = t.profile
    val out = new Array[Double](p.width * p.height)
    for (tr <- 0 until p.tilesDown; tc <- 0 until p.tilesAcross) {
      val px = t.readTile(1, tr, tc)
      for (r <- 0 until p.tileHeight; c <- 0 until p.tileWidth) {
        val (y, x) = (tr * p.tileHeight + r, tc * p.tileWidth + c)
        if (y < p.height && x < p.width) out(y * p.width + x) = px(r * p.tileWidth + c)
      }
    }
    (p, out)
  }

  /** All checks of one job's published output. */
  def all(workload: String, dir: Path, seed: Long, got: Seq[(String, Long)]): Seq[String] =
    status(workload, got) ++ content(workload, dir, seed) ++
      (if (raster(workload)) profiles(workload, dir) else Nil)

  /** The manifest and the pixels of the primary profile. */
  def content(workload: String, dir: Path, seed: Long): Seq[String] = {
    val out = outDir(workload, dir)
    val tiles = tileIds(workload).map(id => id -> readTile(out.resolve(s"$id.tif"))).toMap
    manifest(workload, dir, tiles) ++ (workload match {
      case "raster_aligned"     => aligned(seed, tiles)
      case "raster_warp_mosaic" => warp(seed, tiles)
      case "vector_burn"        => vector(seed, tiles)
    })
  }

  /** tiles.geojson names exactly the expected tiles, and (raster jobs) its
    * per-band stats and the `.aux.xml` sidecars match stats recomputed from
    * the read-back pixels. */
  def manifest(workload: String, dir: Path,
               tiles: Map[String, (GeoTiff.Profile, Array[Double])]): Seq[String] = {
    val sp = Workloads.spec(workload, dir)
    val out = outDir(workload, dir)
    val mf = out.resolve("tiles.geojson")
    if (!Files.exists(mf)) return Seq("tiles.geojson missing")
    val feats = (JsonMethods.parse(Files.readString(mf)) \ "features") match {
      case JArray(fs) => fs
      case _ => Nil
    }
    def str(j: JValue): String = j match { case JString(s) => s; case _ => "" }
    val names = feats.map(f => str(f \ "properties" \ "name"))
    val want = tileIds(workload).map(id => s"${sp.prefix()}/$id.tif")
    val setErr =
      if (names.sorted == want.sorted) Nil
      else Seq(s"tiles.geojson lists ${names.sorted}, expected ${want.sorted}")
    def num(j: JValue): Double = j match {
      case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
      case _ => Double.NaN
    }
    val statErr = if (!raster(workload)) Nil else feats.flatMap { f =>
      val id = str(f \ "properties" \ "name").split('/').last.stripSuffix(".tif")
      tiles.get(id).toSeq.flatMap { case (_, px) =>
        val want = Stats.of(px)
        val band = (f \ "properties" \ "bands") match {
          case JArray(b :: _) => b; case _ => JNothing
        }
        val fromManifest = Stats(num(band \ "min"), num(band \ "max"), num(band \ "mean"),
          num(band \ "std_dev"), num(band \ "count").toLong)
        val side = GeoTiffSpark.readStatsSidecar(out.resolve(s"$id.tif.aux.xml").toString)
          .getOrElse(1, Map.empty)
        val fromSidecar = Stats(side.getOrElse("STATISTICS_MINIMUM", Double.NaN),
          side.getOrElse("STATISTICS_MAXIMUM", Double.NaN),
          side.getOrElse("STATISTICS_MEAN", Double.NaN),
          side.getOrElse("STATISTICS_STDDEV", Double.NaN),
          math.round(side.getOrElse("STATISTICS_VALID_PERCENT", Double.NaN) * px.length / 100))
        Seq("tiles.geojson" -> fromManifest, "aux.xml" -> fromSidecar).collect {
          case (src, s) if !s.matches(want) => s"$id: $src stats $s, read-back $want"
        }
      }
    }
    setErr ++ statErr
  }

  /** The second (gdal-geotiff) profile holds byte-identical tiles. */
  def profiles(workload: String, dir: Path): Seq[String] = {
    val sp = Workloads.spec(workload, dir)
    tileIds(workload).flatMap { id =>
      val a = dir.resolve(sp.prefix()).resolve(s"$id.tif")
      val b = dir.resolve(sp.prefix(fmt = "gdal-geotiff")).resolve(s"$id.tif")
      if (Files.exists(b) && java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))) Nil
      else Seq(s"$id: gdal-geotiff profile differs from geotiff")
    }
  }

  /** Every pixel equals calc(input); the nodata stripe stays nodata. */
  def aligned(seed: Long, tiles: Map[String, (GeoTiff.Profile, Array[Double])]): Seq[String] =
    Inputs.tiles.zipWithIndex.flatMap { case (id, t) =>
      val (p, px) = tiles(id)
      var bad = 0; var first = ""
      for (y <- 0 until p.height; x <- 0 until p.width) {
        val a = Inputs.alignedValue(seed, t, x, y)
        val want = if (a == 0) 0 else Workloads.calc(a)
        if (px(y * p.width + x) != want) {
          if (bad == 0) first = s"($x,$y)=${px(y * p.width + x)} want $want"
          bad += 1
        }
      }
      if (bad == 0) Nil else Seq(s"$id: $bad pixels differ from calc(input), first $first")
    }

  private val R = 6378137.0
  private val WmMax = 20037508.342789244

  /** Sampled pixels equal calc of an independent bilinear evaluation of
    * the generator, taken from the highest-priority source with a valid
    * 2x2 neighbourhood (samples whose deciding neighbourhood is partly
    * masked are skipped: their renormalised weights are the engine's
    * choice, not a fixed formula). */
  def warp(seed: Long, tiles: Map[String, (GeoTiff.Profile, Array[Double])]): Seq[String] = {
    val g = Inputs.warpGrid
    val (p, px) = tiles(g.tileId(0))
    val b = g.tileBounds(g.tileId(0))
    val byPriority = Inputs.warpSources.reverse
    var checked = 0; var patchWins = 0
    val errs = Seq.newBuilder[String]
    for (i <- 0 until 4000) {
      val h = Inputs.hash(seed, 0xC4ECL, i, 0)
      val (x, y) = (((h >>> 1) % p.width).toInt, ((h >>> 33) % p.height).toInt)
      val mx = b.left + (x + 0.5) * g.xres
      val my = b.top - (y + 0.5) * g.yres
      val lon = mx / WmMax * 180
      val lat = math.toDegrees(2 * math.atan(math.exp(my / R)) - math.Pi / 2)
      // first source (by priority) whose 2x2 taps are not all masked
      val decided = byPriority.iterator.map { s =>
        val gx = (lon - s.left) / s.res - 0.5
        val gy = (s.top - lat) / s.res - 0.5
        val (x0, y0) = (math.floor(gx).toInt, math.floor(gy).toInt)
        val (fx, fy) = (gx - x0, gy - y0)
        val taps = for (dy <- 0 to 1; dx <- 0 to 1) yield {
          val (sx, sy) = (x0 + dx, y0 + dy)
          val v = if (sx < 0 || sy < 0 || sx >= s.w || sy >= s.h) 0 else s.value(seed, sx, sy)
          (v, (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy))
        }
        (s, taps)
      }.find(_._2.exists(_._1 != 0))
      val got = px(y * p.width + x)
      decided match {
        case None =>
          checked += 1
          if (got != 0) errs += s"($x,$y)=$got where no source is valid"
        case Some((s, taps)) if taps.forall(_._1 != 0) =>
          checked += 1
          if (s.patch) patchWins += 1
          val want = Workloads.calc(taps.map { case (v, w) => v * w }.sum)
          // the sink narrows to an integer type, and the engine's float
          // rounding may land a hair on the other side of an integer
          if (math.abs(got - want) > 1.0 + 1e-6)
            errs += s"($x,$y)=$got, bilinear ${s.name} gives $want"
        case _ => // partly masked deciding neighbourhood
      }
    }
    val e = errs.result()
    (if (e.isEmpty) Nil else Seq(s"${e.size} warped samples wrong, first ${e.head}")) ++
      (if (checked < 3000 || patchWins < 200)
        Seq(s"only $checked samples decidable ($patchWins from the patch)") else Nil)
  }

  /** Every output pixel holds the value of the feature whose polygon covers
    * its centre, evaluated with JTS on the generator's own polygons, and
    * nodata where none does. */
  def vector(seed: Long, tiles: Map[String, (GeoTiff.Profile, Array[Double])]): Seq[String] = {
    val g = Inputs.vectorGrid
    val want = Inputs.tiles.map(_ => new Array[Int](g.cols * g.rows))
    val gf = new GeometryFactory()
    for ((v, poly) <- Inputs.vectorFeatures(seed)) {
      val prep = PreparedGeometryFactory.prepare(poly)
      val env = poly.getEnvelopeInternal
      for (py <- math.floor((90 - env.getMaxY) / g.yres).toInt until math.ceil((90 - env.getMinY) / g.yres).toInt;
           px <- math.floor((env.getMinX + 180) / g.xres).toInt until math.ceil((env.getMaxX + 180) / g.xres).toInt) {
        val c = new Coordinate(-180.0 + (px + 0.5) * g.xres, 90.0 - (py + 0.5) * g.yres)
        if (prep.covers(gf.createPoint(c))) want(px / g.cols)(py * g.cols + px % g.cols) = v
      }
    }
    Inputs.tiles.zipWithIndex.flatMap { case (id, t) =>
      val (p, px) = tiles(id)
      val bad = px.indices.filter(i => px(i) != want(t)(i))
      if (bad.isEmpty) Nil
      else Seq(s"$id: ${bad.size} burned pixels differ, first (${bad.head % p.width},${bad.head / p.width})=" +
        s"${px(bad.head)} want ${want(t)(bad.head)}")
    }
  }

  // ---- corruptions for the self-test ------------------------------------
  /** Flip the high bit of one valid pixel of the first output tile. */
  def flipPixel(workload: String, dir: Path): Unit = {
    val path = outDir(workload, dir).resolve(s"${tileIds(workload).head}.tif")
    val t = GeoTiff.open(path.toString)
    val p = t.profile
    val blocks = for (tr <- 0 until p.tilesDown; tc <- 0 until p.tilesAcross)
      yield (tr, tc, t.readTile(1, tr, tc))
    val (tr, tc, px) = blocks.find(_._3.exists(_ != 0)).get
    val i = px.indexWhere(_ != 0)
    px(i) = (px(i).toInt ^ 0x8000).toDouble
    val w = new GeoTiff.Writer(path.toString + ".tmp", p)
    try blocks.foreach { case (r, c, b) => w.writeTile(1, r, c, b) } finally w.close()
    Files.move(Path.of(path.toString + ".tmp"), path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop the last feature of tiles.geojson. */
  def dropFeature(workload: String, dir: Path): Unit = {
    val mf = outDir(workload, dir).resolve("tiles.geojson")
    val j = JsonMethods.parse(Files.readString(mf))
    val kept = j.transformField { case ("features", JArray(fs)) => ("features", JArray(fs.dropRight(1))) }
    Files.writeString(mf, JsonMethods.compact(JsonMethods.render(kept)))
  }
}

/** Per-band statistics in the manifest's shape (population std-dev). */
final case class Stats(min: Double, max: Double, mean: Double, std: Double, n: Long) {
  def matches(o: Stats): Boolean = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    n == o.n && min == o.min && max == o.max && close(mean, o.mean) && close(std, o.std)
  }
}
object Stats {
  /** Stats of the valid (non-zero, the layers' nodata) pixels. */
  def of(px: Array[Double]): Stats = {
    var n = 0L; var s = 0.0; var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    for (v <- px if v != 0) { n += 1; s += v; mn = math.min(mn, v); mx = math.max(mx, v) }
    val mean = s / n
    var ss = 0.0
    for (v <- px if v != 0) ss += (v - mean) * (v - mean)
    Stats(mn, mx, mean, math.sqrt(ss / n), n)
  }
}
