package graft

import graft.llm.TextOps
import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native codegen expressions (WordShingles, MinHashSig,
  * SortedHashes) bit-identical to the higher-order-function
  * formulations they replace — the HOF versions stay in the codebase
  * as the executable spec ([[TextOps.shinglesHof]]); these tests are
  * what licenses the swap everywhere else.
  */
class MinHashSigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")

  // dirty edges on top of the fixture: empty text, 1-token, NULL text
  private lazy val edged = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).unionByName(Seq(
      (100001L, ""), (100002L, "solo"), (100003L, "two words"),
      (100004L, null.asInstanceOf[String])).toDF("doc_id", "text"))
  }

  test("WordShingles == array_distinct(transform(slice)) HOF, n=3 and n=8") {
    for (n <- Seq(3, 8)) {
      val toks = TextOps.tokens(col("text"))
      val old = edged.select(col("doc_id"),
        array_distinct(TextOps.shinglesHof(toks, n)).as("arr"))
      val neu = edged.select(col("doc_id"),
        TextOps.shingleSet(toks, n).as("arr"))
      val diff = old.as("o").join(neu.as("w"), "doc_id")
        .where(col("o.arr") =!= col("w.arr") ||
          col("o.arr").isNull =!= col("w.arr").isNull)
        .count()
      assert(diff === 0, s"WordShingles diverges from HOF spec at n=$n")
    }
  }

  test("MinHashSig == array_min(transform(xxhash64(s, i))) for all 64 families") {
    val arr = edged.select(col("doc_id"),
      TextOps.shingleSet(TextOps.tokens(col("text")), 3).as("arr"))
      .where(size(col("arr")) > 0)
    def minHashOld(i: Int) =
      array_min(transform(col("arr"), s => xxhash64(s, lit(i))))
    val old = arr.select(col("doc_id"),
      array((0 until 64).map(minHashOld): _*).as("sig"))
    val neu = arr.select(col("doc_id"),
      GraftSqlShims.column(graft.functions.MinHashSig(
        GraftSqlShims.expression(col("arr")), 64)).as("sig"))
    val diff = old.as("o").join(neu.as("w"), "doc_id")
      .where(col("o.sig") =!= col("w.sig")).count()
    assert(diff === 0, "MinHashSig diverges from the builtin xxhash64 chain")
  }

  test("MinHashSigMd5 == the md5-hex affine formulation for all 64 families") {
    // the SQL-derivable family: x1/x2 are the big-endian 32-bit words
    // of md5(s) (hex nibbles 1-8 / 9-16), h_j the affine mix mod 2^61-1
    // — the same math the q65 oracle interpolates into DuckDB SQL. The
    // kernel computes x1/x2 from digest BYTES; this pins byte order ==
    // hex-string order.
    import graft.functions.MinHashSigMd5.{M, a, b}
    val arr = edged.select(col("doc_id"),
      TextOps.shingleSet(TextOps.tokens(col("text")), 3).as("arr"))
      .where(size(col("arr")) > 0)
    def word(s: Column, off: Int) =
      conv(substring(md5(s), 1 + off, 8), 16, 10).cast("long")
    def hOld(j: Int) = array_min(transform(col("arr"), s =>
      ((lit(a(j)) * word(s, 0)) % M + (lit(b(j)) * word(s, 8)) % M + lit(j.toLong)) % M))
    val old = arr.select(col("doc_id"),
      array((0 until 64).map(hOld): _*).as("sig"))
    val neu = arr.select(col("doc_id"),
      GraftSqlShims.column(graft.functions.MinHashSigMd5(
        GraftSqlShims.expression(col("arr")), 64)).as("sig"))
    val diff = old.as("o").join(neu.as("w"), "doc_id")
      .where(col("o.sig") =!= col("w.sig")).count()
    assert(diff === 0, "MinHashSigMd5 diverges from the md5-hex affine spec")
  }

  test("MinHashSigMd5 is NULL exactly on empty/NULL shingle sets") {
    val arr = edged.select(col("doc_id"),
      TextOps.shingleSet(TextOps.tokens(col("text")), 3).as("arr"))
    val out = arr.select(col("doc_id"),
      GraftSqlShims.column(graft.functions.MinHashSigMd5(
        GraftSqlShims.expression(col("arr")), 8)).as("sig"))
    val nulls = out.where(col("sig").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = arr.where(size(col("arr")) === 0 || col("arr").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nulls == expected)
  }

  test("MinHashSig is NULL exactly on empty/NULL shingle sets") {
    val arr = edged.select(col("doc_id"),
      TextOps.shingleSet(TextOps.tokens(col("text")), 3).as("arr"))
    val sig = arr.select(col("doc_id"),
      GraftSqlShims.column(graft.functions.MinHashSig(
        GraftSqlShims.expression(col("arr")), 8)).as("sig"),
      size(col("arr")).as("n"))
    assert(sig.where(col("sig").isNull =!= (col("n") === 0)).count() === 0)
  }

  test("SortedHashes == array_sort(transform(xxhash64))") {
    val arr = edged.select(col("doc_id"),
      TextOps.shingleSet(TextOps.tokens(col("text")), 3).as("arr"))
    val old = arr.select(col("doc_id"),
      array_sort(transform(col("arr"), s => xxhash64(s))).as("ha"))
    val neu = arr.select(col("doc_id"),
      GraftSqlShims.column(graft.functions.SortedHashes(
        GraftSqlShims.expression(col("arr")))).as("ha"))
    val diff = old.as("o").join(neu.as("w"), "doc_id")
      .where(col("o.ha") =!= col("w.ha")).count()
    assert(diff === 0, "SortedHashes diverges from the builtin xxhash64")
  }

  test("SortedIntersectCount == size(array_intersect) on sorted-distinct arrays") {
    val arr = edged.select(col("doc_id"),
      GraftSqlShims.column(graft.functions.SortedHashes(
        GraftSqlShims.expression(
          TextOps.shingleSet(TextOps.tokens(col("text")), 3)))).as("ha"))
    // all pairs within a small slice: covers empty/disjoint/overlapping
    val a = arr.limit(60)
    val pairs = a.as("x").join(a.as("y"),
      col("x.doc_id") < col("y.doc_id"))
    val diff = pairs.where(
      size(array_intersect(col("x.ha"), col("y.ha"))) =!=
        GraftSqlShims.column(graft.functions.SortedIntersectCount(
          GraftSqlShims.expression(col("x.ha")),
          GraftSqlShims.expression(col("y.ha"))))).count()
    assert(diff === 0)
  }

  test("SimHash32 == the explode/md5/32-aggregate groupBy formulation") {
    val old = graft.llm.ReferenceForms.simhashViaAgg(edged.where(col("text").isNotNull))
    val neu = graft.llm.Dedup.simhash(edged.where(col("text").isNotNull))
    assert(neu.count() === old.count())
    val diff = old.withColumnRenamed("simhash", "o")
      .join(neu, "doc_id")
      .where(col("o") =!= col("simhash")).count()
    assert(diff === 0, "SimHash32 diverges from the groupBy spec")
  }

  test("SimHashFp(64) == the explode/md5/64-aggregate groupBy formulation") {
    val nn = edged.where(col("text").isNotNull)
    val old = graft.llm.ReferenceForms.simhashViaAgg(nn, bits = 64)
    val neu = graft.llm.Dedup.simhash(nn, bits = 64)
    assert(neu.count() === old.count())
    val diff = old.withColumnRenamed("simhash", "o")
      .join(neu, "doc_id")
      .where(col("o") =!= col("simhash")).count()
    assert(diff === 0, "SimHashFp(64) diverges from the groupBy spec")
  }

  test("word_shingles/minhash_sig/sorted_hashes resolve in SQL") {
    graft.functions.TaFunctions.register(spark)
    val r = spark.sql(
      """SELECT word_shingles(split('a b c d', ' '), 3) AS sh,
        |       minhash_sig(word_shingles(split('a b c d', ' '), 2), 4) AS sig,
        |       sorted_hashes(array('x', 'y')) AS ha""".stripMargin)
      .collect()(0)
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(r.getSeq[Long](1).length === 4)
    assert(r.getSeq[Long](2).length === 2)
  }
}
