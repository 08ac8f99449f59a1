package graft.operators

import graft.core.grid.Grid
import graft.functions.Calc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pixel data plane: `Dataset[Block]`-shaped DataFrames.
  *
  * A block is one memory-bounded window of one band of one tile — the unit
  * the reference reads/writes per forked process
  * (`gfw_pixetl/tiles/raster_src_tile.py:343-378`). Here a block is a ROW:
  *
  *   (tile_id, band, block_row, block_col, width, height,
  *    values: array<double>, valid: array<boolean>)
  *
  * `values`+`valid` mirror the reference's numpy MaskedArray value/mask
  * planes (`tiles/utils/transform.py:25-33`). Pixels stay packed in arrays —
  * one row per pixel would be 40000² rows/tile; one row per block is
  * ~10k rows/tile at 512-px blocks, so a 648-tile world job is ~6M rows:
  * comfortable shuffle currency at 100 TB. All per-pixel math runs as
  * codegen'd higher-order array functions (transform/zip_with/aggregate)
  * inside whole-stage codegen — no UDFs on the hot path.
  */
object Raster {

  /** Expand a tiles seed into its block grid, distributed (operator:
    * tile→windows flatMap, `raster_src_tile.py:328-378`). Generates
    * (blocksPerSide)² block rows per tile via `explode(sequence(...))` —
    * pure Catalyst, no driver loop, no shuffle. */
  def tilesToBlocks(tiles: DataFrame, grid: Grid): DataFrame = {
    val n = grid.cols / grid.blockSize
    tiles
      .withColumn("block_row", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("block_col", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("width", lit(grid.blockSize))
      .withColumn("height", lit(grid.blockSize))
  }

  /** Deterministic synthetic pixel fill for tests/bench — value =
    * f(tile, band, block, pixel index) so any block can be regenerated
    * anywhere (replaces the reference's unseeded `randint` fixtures,
    * `tests/conftest.py:37-68`). `nodataEvery` masks every n-th pixel to
    * exercise masked semantics. */
  def synthesizeBand(blocks: DataFrame, band: Int, nodataEvery: Int = 0): DataFrame = {
    import graft.functions.BlockEval
    import org.apache.spark.sql.types.{BooleanType, LongType}
    // seed bounded to 2^40 so the per-pixel linear form s + i·2654435761
    // (i < 2^18) stays far from Long range: a full-width xxhash64 seed
    // overflowed under ANSI arithmetic once enough blocks ran (first hit
    // at the 133k-block 2-Gpx bench leg — ~2e-6 odds per block)
    val seed = pmod(xxhash64(col("tile_id"), col("block_row"), col("block_col"),
      lit(band)), lit(1L << 40))
    val n = (col("width") * col("height")).cast("int")
    // index-generator form of the compiled block kernel: the seed is a
    // per-BLOCK scalar slot, the pixel index drives the formula — the
    // interpreted `transform(sequence(...))` was itself a visible slice of
    // the 199-Mpx bench pipeline
    val value = BlockEval.zip(Nil, Seq(seed -> LongType), Some(n)) {
      case Seq(s, i) => pmod(abs(s + i * lit(2654435761L)), lit(255)).cast("double")
    }
    val masked =
      // all-true also goes through the kernel: a foldable array_repeat
      // constant-folds a 173k-element literal INTO THE PLAN, which then
      // rides every task binary and every mosaic shuffle row
      if (nodataEvery <= 0) BlockEval.zip(Nil, Seq(seed -> LongType), Some(n)) {
        case Seq(_, _) => lit(true)
      }
      else BlockEval.zip(Nil, Seq(seed -> LongType), Some(n)) {
        case Seq(s, i) => pmod(abs(s + i), lit(nodataEvery)) =!= 0
      }
    blocks
      .withColumn("band", lit(band))
      .withColumn("values", value)
      .withColumn("valid", masked)
  }

  /** Apply a masked scalar op elementwise over a (values, valid) pair. */
  def maskedMap(values: Column, valid: Column)(f: Column => Column): (Column, Column) =
    (zip_with(values, valid, (v, ok) => when(ok, f(v))), valid)

  /** Null masked pixels out of a value array (`when(ok, v)` per pixel) —
    * compiled block kernel. */
  def maskValues(values: Column, valid: Column): Column = {
    import graft.functions.BlockEval
    import org.apache.spark.sql.types.{BooleanType, DoubleType}
    BlockEval.zip(Seq(values -> DoubleType, valid -> BooleanType)) {
      case Seq(v, ok, _) => when(ok, v)
    }
  }

  /** The nodata validity mask of a band array (`v.isNotNull && v =!= nd`
    * per pixel) — compiled block kernel. `elemType` is the band's element
    * type (sink dtype after P2). */
  def validMask(band: Column, elemType: org.apache.spark.sql.types.DataType,
                noData: Option[Double]): Column = {
    import graft.functions.BlockEval
    BlockEval.zip(Seq(band -> elemType)) { case Seq(v, _) =>
      noData.map(nd => v.isNotNull && v =!= lit(nd)).getOrElse(v.isNotNull)
    }
  }

  /** Per-pixel calc over aligned band columns (operator P1 on the block
    * plane). `bandValues`/`bandValid` are the per-band value/mask arrays of
    * one block, already zip-joined (J4). The calc compiles once to a scalar
    * Catalyst tree — masked pixels are nulls, matching
    * `array_utils.py:61-85` — and runs as ONE compiled block kernel per
    * output band ([[graft.functions.BlockEval]]): the nulling of masked
    * pixels fuses into the same pass, and the per-pixel cost is a single
    * call into a codegen'd projection instead of an interpreted
    * lambda-tree walk (~20× at the 199-Mpx pipeline scale). */
  def blockCalc(calc: String, bandValues: Seq[Column], bandValid: Seq[Column]): Seq[Column] =
    blockCalcThen(calc, bandValues, bandValid)(identity)

  /** [[blockCalc]] with a scalar POST-STAGE fused into the same kernel
    * pass — P2's `cast(coalesce(v, nd), dtype)` composes here so calc +
    * cast + fill is ONE array materialization per band instead of two
    * (each intermediate array is a full block write + read). */
  def blockCalcThen(calc: String, bandValues: Seq[Column], bandValid: Seq[Column])
                   (post: Column => Column): Seq[Column] = {
    require(bandValues.nonEmpty && bandValues.length == bandValid.length)
    import graft.functions.BlockEval
    import org.apache.spark.sql.types.{BooleanType, DoubleType}
    val n = bandValues.length
    val names = bandValues.indices.map(i => ('A' + i).toChar.toString)
    // How many output bands does this calc produce? (compile once with dummies)
    val nOut = Calc.compile(calc, names.map(_ -> lit(0)).toMap).length
    val arrays = bandValues.map(_ -> (DoubleType: org.apache.spark.sql.types.DataType)) ++
      bandValid.map(_ -> (BooleanType: org.apache.spark.sql.types.DataType))
    (0 until nOut).map { b =>
      BlockEval.zip(arrays) { slots =>
        val bands = names.zipWithIndex.map { case (nm, i) =>
          nm -> when(slots(n + i), slots(i)) // numpy-masked: null when invalid
        }.toMap
        post(Calc.compile(calc, bands)(b))
      }
    }
  }

  /** Cast + nodata fill (operator P2): masked → sentinel, then cast
    * (`array_utils.py:12-41`) — compiled block kernel. `elemType` is the
    * input's element type (the calc's output type; double for raw reads). */
  def castFill(values: Column, noData: Option[Double], sparkType: String,
               elemType: org.apache.spark.sql.types.DataType =
                 org.apache.spark.sql.types.DoubleType): Column = {
    import graft.functions.BlockEval
    BlockEval.zip(Seq(values -> elemType)) { case Seq(v, _) =>
      val filled = noData match {
        case Some(nd) => coalesce(v, lit(nd))
        case None     => v
      }
      filled.cast(sparkType)
    }
  }

  /** Valid-pixel count per block (A5) — drives the empty-block filter F5
    * (`array_utils.py:44-58`). Primitive block kernel over the mask. */
  def validCount(valid: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.BlockValidCount(
      ColumnBridge.expression(valid)))
  }

  /** Per-block partial stats (min/max/sum/sumsq/count) in ONE array pass.
    * This is the map-side combine of operator A3: per-band stats over a
    * 10-Gpx tile never explode pixels into rows — blocks fold to 5 numbers
    * each, then an ordinary groupBy combines ~10k partials per tile.
    * At 100 TB this is the difference between a shuffle of 10^13 pixel rows
    * and 10^7 partial rows. Primitive fold kernel ([[graft.functions
    * .BlockStats]]), bit-identical to the HOF `aggregate` it replaced. */
  def blockPartialStats(values: Column, valid: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.BlockStats(
      ColumnBridge.expression(values), ColumnBridge.expression(valid)))
  }

  /** Combine block partials into per-(tile, band) statistics (A3 final). */
  def combineStats(blocks: DataFrame, keys: Seq[String]): DataFrame = {
    val p = col("partial")
    def perPixel(total: Column): Column =
      when(col("n") > 0, total / col("n")).otherwise(lit(Double.NaN))
    blocks
      .groupBy(keys.map(col): _*)
      .agg(
        min(p("mn")).as("stat_min"),
        max(p("mx")).as("stat_max"),
        sum(p("sum")).as("s"),
        sum(p("sumsq")).as("ss"),
        sum(p("cnt")).as("n"))
      // a group with no valid pixel (n = 0) has no stats: NaN, as the
      // sidecar and manifest writers expect, not an ANSI division error
      .withColumn("stat_mean", perPixel(col("s")))
      .withColumn("stat_std",
        sqrt(greatest(perPixel(col("ss")) - pow(perPixel(col("s")), 2), lit(0.0))))
      .drop("s", "ss")
  }

  /** Per-pixel histogram bucket index (A4 map side; `gdalinfo -hist`
    * semantics: n equal buckets over [lo, hi], out-of-range clamps to the
    * edge buckets). Pure zip_with arithmetic — invalid/nodata pixels map
    * to null — so the consumer's explode + count hash-aggregate builds
    * the histogram entirely inside whole-stage codegen, map-side combined
    * to ≤ n rows per task before any shuffle. This replaced the last UDF
    * on the raster hot path: the per-block boxed-Seq UDF paid more in
    * (de)serializing a 100k-element Seq[java.lang.Double] than its
    * imperative fill ever saved. */
  def bucketIndex(values: Column, valid: Column, lo: Double, hi: Double, n: Int): Column = {
    import graft.functions.BlockEval
    import org.apache.spark.sql.types.{BooleanType, DoubleType}
    val width = (hi - lo) / n
    BlockEval.zip(Seq(values -> DoubleType, valid -> BooleanType)) {
      case Seq(v, ok, _) =>
        when(ok && v.isNotNull,
          least(greatest(floor((v - lo) / width), lit(0.0)),
            lit((n - 1).toDouble)).cast("int"))
    }
  }
}
