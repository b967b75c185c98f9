package graft

import graft.functions.BloomFrame
import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the bloom-filter grid (value parity with the
  * DuckDB re-derivation is q134's oracle gate; identical-output parity
  * of the join-pruning composition is q135's).
  */
class BloomFrameSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def keys(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => s"key-$i").toDF("k")
  }

  test("grid is bounded by m/64 chunks at any key cardinality") {
    val bloom = BloomFrame.build(keys(5000), col("k"), m = 256, d = 4)
    assert(bloom.count() <= 4) // 256 / 64
    // saturated at this load: every chunk's 64 bits set
    assert(bloom.where(col("bf_bits") =!= lit(-1L)).count() == 0)
  }

  test("no false negatives: every built key probes maybe") {
    val ks = keys(500)
    val bloom = BloomFrame.build(ks, col("k"), m = 1L << 14, d = 4)
    val probed = BloomFrame.mayContain(ks, col("k"), bloom, m = 1L << 14, d = 4)
    assert(probed.where(!col("bf_maybe")).count() == 0)
    // the fast-hash gate on a two-column key keeps every member row and
    // drops a row with a NULL key column
    val kn = ks.select(col("k"), length(col("k")).as("n"))
      .unionByName(ks.limit(1).select(col("k"), lit(null).cast("int").as("n")))
    val key = Seq(col("k"), col("n"))
    val kept = BloomFrame.pruneFast(kn, key, kn, key, m = 1L << 14, d = 4)
    assert(kept.count() == 500 && kept.where(col("n").isNull).count() == 0)
  }

  test("absent keys mostly reject at sane sizing; NULL keys always reject") {
    import spark.implicits._
    val bloom = BloomFrame.build(keys(500), col("k"), m = 1L << 14, d = 4)
    val absent = (0 until 500).map(i => s"other-$i").toDF("k")
    val fp = BloomFrame.mayContain(absent, col("k"), bloom, m = 1L << 14, d = 4)
      .where(col("bf_maybe")).count()
    // load 500*4/16384 ≈ 0.12 bits → fp ≈ (1−e^−0.12)^4 ≈ 2e−4; allow slack
    assert(fp <= 25, s"false-positive count $fp out of 500 is not sane")
    val nulls = Seq(Option.empty[String], Some("key-1")).toDF("k")
    val probed = BloomFrame.mayContain(nulls, col("k"), bloom,
      m = 1L << 14, d = 4).collect()
    assert(probed.length == 2)
    assert(probed.forall(r => r.getBoolean(1) == (r.getString(0) != null)))
  }

  test("merge of split builds == one-pass build (partition-invariant)") {
    val all = keys(1000)
    val one = BloomFrame.build(all, col("k"), m = 1L << 12, d = 3)
    val merged = BloomFrame.merge(
      BloomFrame.build(all.where(length(col("k")) % 2 === 0), col("k"),
        m = 1L << 12, d = 3),
      BloomFrame.build(all.where(length(col("k")) % 2 =!= 0), col("k"),
        m = 1L << 12, d = 3))
    assert(one.exceptAll(merged).count() == 0 &&
      merged.exceptAll(one).count() == 0)
    val repart = BloomFrame.build(all.repartition(7), col("k"),
      m = 1L << 12, d = 3)
    assert(one.exceptAll(repart).count() == 0 &&
      repart.exceptAll(one).count() == 0)
  }

  test("bloom-gated delta pairs == ungated delta pairs, even at fp-heavy m") {
    import spark.implicits._
    // near-dup planted: docs 0/1 share text (Hamming 0), 2 is disjoint,
    // 3 (new) shares with old 4; plus filler to populate band buckets
    val docs = (Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "lorem ipsum dolor sit amet consectetur"),
      (4L, "lorem ipsum dolor sit amet consectetur")) ++
      (10L until 40L).map(i => (i, s"filler text number $i with words")))
      .toDF("doc_id", "text")
    val isNew = col("doc_id") % 3 === 0
    for (bits <- Seq(Dedup.simhashBits, Dedup.simhashBits64);
        m <- Seq(64L, 1L << 16)) { // m=64: saturated grid, all-fp gate
      val plain = Dedup.simhashPairsDelta(docs, isNew, 3, bits)
        .orderBy("da", "db").collect().toSeq
      val gated = Dedup.simhashPairsDeltaBloom(docs, isNew, 3, bits, m, 2)
        .orderBy("da", "db").collect().toSeq
      assert(gated == plain, s"mismatch at bits=$bits m=$m")
    }
    // sanity: the planted new×old pair is actually in the output
    val out = Dedup.simhashPairsDeltaBloom(docs, isNew)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(out.contains((3L, 4L)))
  }
}
