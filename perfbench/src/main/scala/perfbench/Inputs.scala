package perfbench

import graft.core.grid.{GridFactory, LatLngGrid, WebMercatorGrid}
import graft.functions.GeoFunctions
import graft.sources.GeoTiff
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/** Seeded inputs for the pipeline workloads. Every pixel is a pure
  * function of (seed, position), so the output checks can evaluate the
  * generator at any point instead of reading the inputs back.
  *
  * Inputs live in `<root>/<workload>-<size>-s<seed>/` with a `MANIFEST`
  * listing each file's length and CRC32; a cache hit re-validates that
  * listing, a miss (or a mismatch) regenerates the directory. */
object Inputs {

  // ---- sizes (output pixels per job follow from these) ------------------
  /** raster_aligned: two 90-degree tiles of this width. */
  val AlignedCols = 1024
  /** raster_warp_mosaic: the single WebMercator tile of this zoom. */
  val WarpZoom = 2
  /** raster_warp_mosaic: resolution of the base sources, degrees. */
  val WarpRes = 0.25

  /** vector_burn: the same two tiles as raster_aligned, at this width. */
  val VectorCols = 1024
  /** vector_burn: one feature per cell of this lattice (columns, rows)
    * over the two tiles, lon [-180, 0] x lat [0, 90]. */
  val VectorCells: (Int, Int) = (81, 40)

  val alignedGrid: LatLngGrid = GridFactory(s"90/$AlignedCols").asInstanceOf[LatLngGrid]
  val warpGrid: WebMercatorGrid = GridFactory(s"zoom_$WarpZoom").asInstanceOf[WebMercatorGrid]
  val vectorGrid: LatLngGrid = GridFactory(s"90/$VectorCols").asInstanceOf[LatLngGrid]
  /** The two grid tiles raster_aligned and vector_burn publish. */
  val tiles: Seq[String] = Seq("90N_180W", "90N_090W")

  def sizeTag(workload: String): String = workload match {
    case "raster_aligned"     => s"c$AlignedCols"
    case "raster_warp_mosaic" => s"z$WarpZoom-r$WarpRes"
    case "vector_burn"        => s"c$VectorCols-f${VectorCells._1}x${VectorCells._2}"
  }

  // ---- deterministic hashing --------------------------------------------
  def mix(z0: Long): Long = { // splitmix64 finaliser
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long, c: Long): Long =
    mix(seed ^ mix(a ^ mix(b ^ mix(c))))
  /** Uniform double in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53)

  // ---- raster_aligned ---------------------------------------------------
  /** First row of the nodata stripe (24 rows, every source tile). */
  def stripeStart(seed: Long): Int = 64 + ((mix(seed ^ 0x5712L) >>> 1) % (AlignedCols - 128)).toInt
  val StripeRows = 24
  /** Near-incompressible uint16 in [1, 30000] (so the calc fits uint16);
    * 0 (nodata) on the stripe. */
  def alignedValue(seed: Long, tile: Int, x: Int, y: Int): Int = {
    val s = stripeStart(seed)
    if (y >= s && y < s + StripeRows) 0
    else 1 + ((hash(seed, tile, x, y) >>> 1) % 30000).toInt
  }

  // ---- raster_warp_mosaic -----------------------------------------------
  /** A warp source: EPSG:4326 raster of `w`x`h` pixels at `res` degrees. */
  final case class WarpSource(name: String, left: Double, top: Double,
                              res: Double, w: Int, h: Int, patch: Boolean) {
    def value(seed: Long, x: Int, y: Int): Int = {
      val lon = left + (x + 0.5) * res
      val lat = top - (y + 0.5) * res
      // the seed shifts the pattern a little; compressibility stays put
      val ph = unit(mix(seed ^ (if (patch) 0x77L else 0x33L))) * 0.3
      if (patch) {
        // nodata holes: every fifth 64-column band is empty, so the lower
        // sources show through the highest-priority one
        if ((x / 64) % 5 == 0) 0
        else 20000 + math.round(6000 * math.sin(lon / 11 + ph) *
          math.cos(lat / 7 - ph)).toInt
      } else
        3000 + math.round(900 * math.sin(lon / 17 + ph) + 500 * math.cos(lat / 13 + ph / 2)).toInt
    }
  }
  /** Base hemispheres (they tile the world) plus a finer half-size patch
    * over both; names sort in priority order (last listed wins). */
  def warpSources: Seq[WarpSource] = {
    val base = WarpRes; val top = 86.0
    val h = (2 * top / base).toInt
    Seq(WarpSource("a_west.tif", -180, top, base, (180 / base).toInt, h, patch = false),
      WarpSource("b_east.tif", 0, top, base, (180 / base).toInt, h, patch = false),
      WarpSource("c_patch.tif", -90, 43, base / 2, (180 / (base / 2)).toInt,
        (86 / (base / 2)).toInt, patch = true))
  }

  // ---- vector_burn -------------------------------------------------------
  private val gf = new GeometryFactory()

  /** One star polygon per lattice cell, value = cell index + 1. A star stays
    * inside its own cell, so features never overlap and every burned pixel
    * names exactly one feature. The column of cells on lon -90 straddles
    * the tile edge, so those features are clipped into both tiles. Sizes
    * vary per cell but the total stays put across seeds, and no feature is
    * large enough to dominate a task. */
  def vectorFeatures(seed: Long): Seq[(Int, Polygon)] = {
    val (nx, ny) = VectorCells
    val (cw, ch) = (180.0 / nx, 90.0 / ny)
    for (j <- 0 until ny; i <- 0 until nx) yield {
      val h = hash(seed, 0xFEA7L, i, j)
      def u(k: Int) = unit(mix(h ^ k))
      val cx = -180 + (i + 0.5 + (u(1) - 0.5) * 0.1) * cw
      val cy = 90 - (j + 0.5 + (u(2) - 0.5) * 0.1) * ch
      val r = 0.5 * math.min(cw, ch) * (0.5 + 0.4 * u(3))
      val k = 5 + (u(4) * 8).toInt
      val rot = u(5) * 2 * math.Pi
      val ring = (0 to 2 * k).map { m =>
        val a = rot + math.Pi * (m % (2 * k)) / k
        val rr = if (m % 2 == 0) r else r * 0.55
        new Coordinate(cx + rr * math.cos(a), cy + rr * math.sin(a))
      }
      (j * nx + i + 1, gf.createPolygon(ring.toArray))
    }
  }

  private def genVector(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    vectorFeatures(seed).map { case (v, g) => (GeoFunctions.write(g), v.toLong) }
      .toDF("geom", "value").coalesce(1)
      .write.parquet(dir.resolve("features.parquet").toString)
  }

  // ---- generation + cache validation ------------------------------------
  /** Generated input directory of a workload at a seed, (re)built on a
    * cache miss. Returns the directory. */
  def ensure(spark: SparkSession, root: Path, workload: String, seed: Long): Path = {
    val dir = root.resolve(s"$workload-${sizeTag(workload)}-s$seed")
    if (!valid(dir)) {
      if (Files.exists(dir)) deleteTree(dir)
      Files.createDirectories(dir.resolve("src"))
      workload match {
        case "raster_aligned"     => genAligned(dir, seed)
        case "raster_warp_mosaic" => genWarp(dir, seed)
        case "vector_burn"        => genVector(spark, dir, seed)
      }
      writeManifest(dir)
    }
    dir
  }

  private def genAligned(dir: Path, seed: Long): Unit = {
    val g = alignedGrid
    val bs = g.blockSize
    tiles.zipWithIndex.foreach { case (id, t) =>
      val b = g.tileBounds(id)
      val prof = GeoTiff.Profile(width = g.cols, height = g.rows, bands = 1,
        dataType = "uint16", tileWidth = bs, tileHeight = bs, noData = Some(0.0),
        epsg = 4326, originX = b.left, originY = b.top, xres = g.xres, yres = g.yres)
      val w = new GeoTiff.Writer(dir.resolve(s"src/$id.tif").toString, prof)
      try for (tr <- 0 until g.rows / bs; tc <- 0 until g.cols / bs)
        w.writeTile(1, tr, tc, Array.tabulate(bs * bs) { i =>
          alignedValue(seed, t, tc * bs + i % bs, tr * bs + i / bs).toDouble
        })
      finally w.close()
    }
  }

  private def genWarp(dir: Path, seed: Long): Unit = warpSources.foreach { s =>
    val ts = 256
    val prof = GeoTiff.Profile(width = s.w, height = s.h, bands = 1,
      dataType = "uint16", tileWidth = ts, tileHeight = ts, noData = Some(0.0),
      epsg = 4326, originX = s.left, originY = s.top, xres = s.res, yres = s.res)
    val w = new GeoTiff.Writer(dir.resolve(s"src/${s.name}").toString, prof)
    try for (tr <- 0 until (s.h + ts - 1) / ts; tc <- 0 until (s.w + ts - 1) / ts)
      w.writeTile(1, tr, tc, Array.tabulate(ts * ts) { i =>
        val (x, y) = (tc * ts + i % ts, tr * ts + i / ts)
        if (x < s.w && y < s.h) s.value(seed, x, y).toDouble else 0.0
      })
    finally w.close()
  }

  /** Input files of a generated directory (outputs under it are not). */
  private def inputFiles(dir: Path): Seq[Path] =
    Seq("src", "features.parquet").map(dir.resolve(_)).filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      finally s.close()
    }.sortBy(_.toString)

  private def crc(p: Path): Long = {
    val c = new java.util.zip.CRC32()
    c.update(Files.readAllBytes(p))
    c.getValue
  }

  private def listing(dir: Path): String =
    inputFiles(dir).map(p => s"${dir.relativize(p)} ${Files.size(p)} ${crc(p)}").mkString("\n")

  private def writeManifest(dir: Path): Unit =
    Files.writeString(dir.resolve("MANIFEST"), listing(dir))

  private def valid(dir: Path): Boolean = {
    val m = dir.resolve("MANIFEST")
    Files.isRegularFile(m) && Files.readString(m) == listing(dir) &&
      Files.readString(m).nonEmpty
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}
