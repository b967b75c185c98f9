package graft.load

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-layout keys (Z-order space-filling curve).
  *
  * The reference prunes on ONE dimension — its partition columns
  * (year/month/day, load/PartitionIO territory). At 100 TB a table
  * queried by EITHER of two keys (symbol AND date; part AND supplier)
  * wants its files clustered so min/max footer stats prune on BOTH:
  * sort by a Z-order key — bit-interleaved bucket ranks of the two
  * columns — and every file covers a small rectangle of the key space
  * instead of a full stripe of one dimension (the Delta/Iceberg
  * OPTIMIZE ZORDER layout pass, rebuilt on open primitives).
  *
  * Everything here is EXACT INTEGER arithmetic (range bucketization by
  * integer multiply/divide, bit extraction by shift/mask) — the key is
  * bit-reproducible cross-engine, no rank() pass and no float edge.
  * Computing it is a pure map over each row plus one broadcast 1-row
  * min/max frame; laying data out is then `repartitionByRange` +
  * in-partition sort on the key, Spark's native range machinery.
  */
object Layout {

  /** Bucket rank of `v` in [min, max] at 2^bits resolution:
    * `((v - min) * 2^bits) div (max - min + 1)` — monotone, in
    * [0, 2^bits). Column `/` is double division; the operands stay
    * ≤ ~2^40 (exact in double) and an integer-ratio quotient is never
    * within an ulp of a wrong integer, so floor() reproduces exact
    * integer floor-division cross-engine. */
  private def bucket(v: Column, mn: Column, mx: Column, bits: Int): Column =
    floor((v - mn) * lit(1L << bits) / (mx - mn + lit(1L))).cast("long")

  /** Interleave the low `bits` of two bucket ranks (a's bit i lands at
    * position 2i+1, b's at 2i) — the 2-D Morton/Z-value. */
  private def interleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      val ai = shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
      val bi = shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
      ai + bi
    }.reduce(_ + _)

  /** Append a Z-order key over two long/int columns: each is ranked
    * into 2^bits range buckets against its global min/max (one
    * broadcast scalar frame), then bit-interleaved. 2·bits ≤ 62.
    */
  def withZKey(df: DataFrame, colA: String, colB: String,
      bits: Int = 10, keyName: String = "zkey"): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62, s"bits out of range: $bits")
    val bounds = df.agg(
      min(col(colA)).as("mn_a"), max(col(colA)).as("mx_a"),
      min(col(colB)).as("mn_b"), max(col(colB)).as("mx_b"))
    df.crossJoin(broadcast(bounds))
      .withColumn(keyName, interleave(
        bucket(col(colA), col("mn_a"), col("mx_a"), bits),
        bucket(col(colB), col("mn_b"), col("mx_b"), bits), bits))
      .drop("mn_a", "mx_a", "mn_b", "mx_b")
  }

  /** Append a HILBERT-curve key over two long/int columns — the
    * better-locality sibling of [[withZKey]]: consecutive Hilbert
    * keys are always grid neighbors, where the Z curve jumps across
    * the space at every quadrant seam, so range-partitioned files
    * cover tighter rectangles (smaller footer-stats spans → more
    * pruning). Same exact-integer bucketization; the xy2d walk runs
    * as a native codegen'd expression
    * ([[graft.functions.HilbertIndex]]) because its per-level
    * rotation would grow 3^bits nodes as unrolled Columns.
    */
  def withHilbertKey(df: DataFrame, colA: String, colB: String,
      bits: Int = 10, keyName: String = "hkey"): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62, s"bits out of range: $bits")
    val bounds = df.agg(
      min(col(colA)).as("mn_a"), max(col(colA)).as("mx_a"),
      min(col(colB)).as("mn_b"), max(col(colB)).as("mx_b"))
    df.crossJoin(broadcast(bounds))
      .withColumn(keyName,
        org.apache.spark.sql.GraftSqlShims.column(
          graft.functions.HilbertIndex(
            org.apache.spark.sql.GraftSqlShims.expression(
              bucket(col(colA), col("mn_a"), col("mx_a"), bits)),
            org.apache.spark.sql.GraftSqlShims.expression(
              bucket(col(colB), col("mn_b"), col("mx_b"), bits)),
            bits)))
      .drop("mn_a", "mx_a", "mn_b", "mx_b")
  }

  /** [[zBlockStats]] on the Hilbert key: per-block row counts +
    * min/max spans of both dimensions — the rectangle audit that lets
    * the two curves' locality be COMPARED on the same table.
    */
  def hilbertBlockStats(df: DataFrame, colA: String, colB: String,
      bits: Int = 10, blockBits: Int = 6): DataFrame = {
    require(blockBits >= 1 && blockBits <= 2 * bits, "blockBits out of range")
    withHilbertKey(df, colA, colB, bits)
      .withColumn("block",
        shiftright(col("hkey"), 2 * bits - blockBits).cast("int"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(colA)).as("min_a"), max(col(colA)).as("max_a"),
        min(col(colB)).as("min_b"), max(col(colB)).as("max_b"))
  }

  /** The audit that makes the layout's value measurable without writing
    * files: split the Z-key space into `2^blockBits` equal blocks (a
    * block ≈ one file after the layout pass) and report each block's
    * row count and min/max of BOTH dimensions. Under Z-ordering every
    * block's spans are ~√(blocks) narrower than the full range on EACH
    * column — the footer-stats pruning a point/range predicate on
    * either dimension would enjoy. One map + one bounded hash aggregate
    * (≤ 2^blockBits groups, map-side combined).
    */
  def zBlockStats(df: DataFrame, colA: String, colB: String,
      bits: Int = 10, blockBits: Int = 6): DataFrame = {
    require(blockBits >= 1 && blockBits <= 2 * bits, "blockBits out of range")
    withZKey(df, colA, colB, bits)
      .withColumn("block",
        shiftright(col("zkey"), 2 * bits - blockBits).cast("int"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(colA)).as("min_a"), max(col(colA)).as("max_a"),
        min(col(colB)).as("min_b"), max(col(colB)).as("max_b"))
  }
}
