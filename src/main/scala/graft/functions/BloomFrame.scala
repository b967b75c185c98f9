package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom filter expressed AS A DATAFRAME — the membership sibling of
  * [[CountMinFrame]]: `d` md5-derived bit positions per key, packed
  * into 64-bit chunks with a `bit_or` hash aggregate. The result is a
  * table of AT MOST m/64 (chunk, bits) rows — bounded regardless of
  * input cardinality, partially aggregated map-side, and mergeable
  * across days/streams by unioning filter frames and re-`bit_or`ing
  * (the chunk grid is fixed by construction).
  *
  * Membership ([[mayContain]]) is shuffle-free: each of the key's d
  * positions resolves through its own BROADCAST join against the
  * ≤ m/64-row grid, then a scalar bit test — the probe side streams at
  * any size with no exchange and no aggregation. No false negatives
  * ever; false-positive rate ≈ (1 − e^(−d·n/m))^d, so size m ≳ 10
  * bits per expected key.
  *
  * The 100 TB story is JOIN PRUNING (the DataFrame-level form of
  * Spark's own runtime row-level bloom filtering, which only triggers
  * on its internal heuristics): when a massive fact side joins a
  * selective small side, build the filter over the SMALL side's keys
  * and gate the massive side BEFORE its shuffle. Because the gate
  * never drops a true match and survivors still pass the exact
  * equality join, output semantics are exactly unchanged — false
  * positives merely shuffle and then fail the join
  * ([[graft.llm.Dedup.simhashPairsDeltaBloom]] is the registered
  * composition; its oracle is the ungated query's, verbatim). Unlike
  * an exact `broadcast(distinct keys)` semi-join, the filter stays
  * m/64 rows however many distinct keys the small side has.
  *
  * All positions are md5-derived, so the whole filter — including its
  * false positives — re-derives in the DuckDB oracle as a distinct
  * position set (the bitmap is just that set, packed).
  */
object BloomFrame {

  /** Bit position i of a key: first 48 md5 bits of "i:key" mod m —
    * the re-derivable hash family every deterministic operator here
    * uses (exact: 2^48 < 2^53).
    */
  private def pos(key: Column, i: Int, m: Long): Column =
    conv(substring(md5(concat(lit(s"$i:"), key)), 1, 12), 16, 10)
      .cast("long") % m

  /** Build the filter over `keys`' `key` column: one row per touched
    * 64-bit chunk. NULL keys are skipped (a NULL never "contains").
    *
    * @param m filter width in bits (multiple of 64); the frame has at
    *          most m/64 rows however many keys are added
    * @param d hash functions per key
    * @return (bf_chunk, bf_bits)
    */
  def build(keys: DataFrame, key: Column, m: Long = 1L << 20,
      d: Int = 4): DataFrame =
    buildPos(keys, key.isNotNull, pos(key, _, m), m, d)

  private def buildPos(keys: DataFrame, keyPresent: Column,
      posOf: Int => Column, m: Long, d: Int): DataFrame = {
    require(d > 0, "bloom filter needs d > 0")
    require(m >= 64 && m % 64 == 0,
      "bloom filter width m must be a positive multiple of 64")
    keys.where(keyPresent)
      .select(explode(array((0 until d).map(posOf): _*)).as("p"))
      .select(shiftright(col("p"), 6).as("bf_chunk"),
        col("p").bitwiseAND(lit(63L)).cast("int").as("bit"))
      .groupBy("bf_chunk")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bf_bits"))
  }

  /** Merge filters built with the SAME (m, d) — union + re-`bit_or`,
    * the map-side-combinable shape that also makes per-day/per-stream
    * filters composable.
    */
  def merge(parts: DataFrame*): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy("bf_chunk")
      .agg(expr("bit_or(bf_bits)").as("bf_bits"))

  /** Append `bf_maybe` to `probes`: true iff ALL d of the key's bits
    * are set in `bloom` (built with the same m and d). Shuffle-free:
    * d broadcast joins against the ≤ m/64-row grid + scalar bit
    * tests — no exchange, no aggregation, probe row count and order
    * preserved (NULL keys probe false). Column names prefixed `__bf`
    * are reserved; a pre-existing `bf_maybe` column is replaced.
    */
  def mayContain(probes: DataFrame, key: Column, bloom: DataFrame,
      m: Long = 1L << 20, d: Int = 4): DataFrame =
    mayContainPos(probes, i => pos(key, i, m), key.isNotNull, bloom, d)

  /** FAST-HASH bit position i of a multi-column key: xxhash64 seeded
    * by i — whole-stage-codegen native, no string materialization, no
    * cryptographic digest. NOT re-derivable in the DuckDB oracles
    * (xxhash64 is Spark-internal), so this family is ONLY for
    * TRANSPARENT join-pruning gates — places where false positives are
    * discarded by a later exact join and no query ever outputs the
    * probe verdict. Oracle-pinned bloom surfaces (the q134 probe
    * audit) must stay on the md5 family above.
    */
  private def posFast(keyCols: Seq[Column], i: Int, m: Long): Column =
    pmod(xxhash64(lit(i) +: keyCols: _*), lit(m))

  /** The `probes` rows whose `probeKey` may be among the `members`
    * rows' `memberKey` values: a [[build]] / [[mayContain]] pair on the
    * fast-hash family (guide §4: keep the hot path on codegen-native
    * expressions), keeping only the rows that probe true. The two key
    * lists must hash alike (same arity and types). Rows where ANY key
    * column is NULL are skipped on both sides, mirroring the md5
    * family's NULL-key rule for the single-column case. No member is
    * ever dropped; a false positive survives, so this is a gate in
    * front of an exact join, not a semi-join.
    */
  def pruneFast(probes: DataFrame, probeKey: Seq[Column],
      members: DataFrame, memberKey: Seq[Column], m: Long,
      d: Int): DataFrame = {
    def present(key: Seq[Column]) = key.map(_.isNotNull).reduce(_ && _)
    val bloom = buildPos(members, present(memberKey),
      posFast(memberKey, _, m), m, d)
    mayContainPos(probes, posFast(probeKey, _, m), present(probeKey),
        bloom, d)
      .where(col("bf_maybe")).drop("bf_maybe")
  }

  private def mayContainPos(probes: DataFrame, posOf: Int => Column,
      keyPresent: Column, bloom: DataFrame, d: Int): DataFrame =
    (0 until d).foldLeft(probes.withColumn("bf_maybe", keyPresent)) {
      (df, i) =>
        val g = bloom.select(col("bf_chunk").as(s"__bfc$i"),
          col("bf_bits").as(s"__bfb$i"))
        df.withColumn(s"__bfp$i", posOf(i))
          .join(broadcast(g),
            shiftright(col(s"__bfp$i"), 6) === col(s"__bfc$i"), "left")
          .withColumn("bf_maybe", col("bf_maybe") && coalesce(
            expr(s"(shiftright(__bfb$i, CAST(__bfp$i % 64 AS INT)) & 1) = 1"),
            lit(false)))
          .drop(s"__bfp$i", s"__bfc$i", s"__bfb$i")
    }
}
