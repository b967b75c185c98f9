package graft

import graft.stream.AnnAdmission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ANN admission ([[AnnAdmission]]): greedy admitted-only
  * kernel, the transformWithState lifecycle (admit, cross-batch
  * reject, TTL eviction), and streaming == batch parity.
  */
class AnnAdmissionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  test("kernel: greedy over admitted-only state — a doc near a " +
      "REJECTED doc but not near any admitted one is admitted") {
    def c(id: Long, fp: Long) = AnnAdmission.Cand("b", id, fp)
    // fp2 within hamming 1 of fp1 (rejected); fp3 within hamming 2 of
    // fp2 but hamming 3 of fp1 — still rejected at maxHamming=3;
    // fp4 at hamming 5 from fp1 — admitted
    val fp1 = 0L
    val fp2 = 1L // h(fp1,fp2)=1
    val fp3 = 7L // h(fp1,fp3)=3
    val fp4 = 31L // h(fp1,fp4)=5
    val (out, newly) = AnnAdmission.foldAdmit(
      Seq(c(1, fp1), c(2, fp2), c(3, fp3), c(4, fp4)), Nil, 3)
    assert(out.map(a => a.doc_id -> a.admitted) ==
      Seq(1L -> true, 2L -> false, 3L -> false, 4L -> true))
    assert(newly == Seq(fp1, fp4))
    // prior standing state rejects a later duplicate
    val (out2, _) = AnnAdmission.foldAdmit(Seq(c(5, fp1)), newly, 3)
    assert(out2 == Seq(AnnAdmission.Admit(5L, "b", false)))
  }

  test("batch: exact duplicate texts — first doc_id admitted, " +
      "later copies rejected; distinct docs all admitted") {
    import spark.implicits._
    val docs = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
        (3L, "totally different words entirely here"))
      .toDF("doc_id", "text")
    val got = AnnAdmission.admittedBatch(docs).collect()
      .map(a => a.doc_id -> a.admitted).toMap
    assert(got(1L) && !got(2L) && got(3L))
  }

  test("multi-band: a cross-band near-dup the single-band form ADMITS " +
      "is REJECTED by the 4-band arbiter (pigeonhole completeness)") {
    import spark.implicits._
    // hamming(fp1, fp2) = 1, but the differing bit (62) sits INSIDE
    // band 0 — the single-band (leading 16 bits) buckets differ, so
    // the q400 form admits both; bands 1–3 agree, so the arbiter
    // must reject doc 2.
    val fp = Seq((1L, 0L), (2L, 1L << 62)).toDF("docId", "fpl")
    val flags = AnnAdmission.bandFlagsBatch(fp, maxHamming = 3).toDF()
    val band0 = flags.where(col("bucket").startsWith("0:")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted"))
      .toMap
    assert(band0 == Map(1L -> true, 2L -> true),
      "band 0 alone should MISS the pair (that is the documented gap)")
    val arb = AnnAdmission.arbiter(flags).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_bands_ok"), r.getAs[Boolean]("admitted")))
      .toMap
    assert(arb == Map(1L -> ((4, true)), 2L -> ((1, false))),
      "the 4-band arbiter must reject the cross-band near-dup")
  }

  test("multi-band: two arbiter-admitted docs are never within " +
      "maxHamming of each other (the independence invariant) and an " +
      "exact dup fails all 4 bands") {
    import spark.implicits._
    val docs = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
        (3L, "totally different words entirely here"))
      .toDF("doc_id", "text")
    val got = AnnAdmission.admittedBatchBands(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_bands_ok"), r.getAs[Boolean]("admitted")))
      .toMap
    assert(got(1L) == ((4, true)) && got(2L) == ((0, false)) &&
      got(3L) == ((4, true)))
    // invariant on the real fixture: no admitted pair within Hamming 3
    val fx = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val fps = AnnAdmission.fingerprints(fx)
    val admitted = AnnAdmission.admittedBatchBands(fx)
      .where(col("admitted")).select(col("doc_id").as("docId"))
      .join(fps, "docId").select(col("docId"), col("fpl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    for (Seq((da, fa), (db, fb)) <- admitted.toSeq.combinations(2))
      assert(java.lang.Long.bitCount(fa ^ fb) > 3,
        s"admitted docs $da and $db are near-dups")
  }

  test("multi-band streaming: bandFlags + per-batch arbiter matches " +
      "the batch form, with cross-batch rejects via per-band state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val out = tmp("annb-out")
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = AnnAdmission.bandFlags(docs, maxHamming = 3)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("annb-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // stage-2 arbiter per micro-batch: all 4 flags of a doc
          // arrive in its own batch, so the fold is complete here
          AnnAdmission.arbiter(b).write.mode("append").parquet(s"$out/t")
        }.start()
      mem.addData((1L, "alpha beta gamma delta epsilon"),
        (2L, "totally different words entirely here"))
      q.processAllAvailable()
      mem.addData((3L, "alpha beta gamma delta epsilon"), // dup of 1
        (4L, "yet another unrelated document text"))
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(s"$out/t").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Int]("n_bands_ok"), r.getAs[Boolean]("admitted")))
        .toMap
      val batch = AnnAdmission.admittedBatchBands(Seq(
          (1L, "alpha beta gamma delta epsilon"),
          (2L, "totally different words entirely here"),
          (3L, "alpha beta gamma delta epsilon"),
          (4L, "yet another unrelated document text"))
        .toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Int]("n_bands_ok"), r.getAs[Boolean]("admitted")))
        .toMap
      assert(got == batch && !got(3L)._2 && got(3L)._1 == 0)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState lifecycle: admit, cross-batch reject via " +
      "ListState, TTL eviction re-opens the slot; parity with batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val out = tmp("ann-out")
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = AnnAdmission.admitted(docs, maxHamming = 3)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ann-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$out/t")
        }.start()
      // batch 1: two distinct docs admitted
      mem.addData((1L, "alpha beta gamma delta epsilon"),
        (2L, "totally different words entirely here"))
      q.processAllAvailable()
      // batch 2: exact dup of doc 1 rejected via carried ListState;
      // a new distinct doc admitted
      mem.addData((3L, "alpha beta gamma delta epsilon"),
        (4L, "yet another unrelated document text"))
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(s"$out/t").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Boolean]("admitted")).toMap
      assert(got == Map(1L -> true, 2L -> true, 3L -> false,
        4L -> true))
      // parity: the batch kernel over the same docs in one pass
      // agrees (doc_id order == arrival order here)
      val batch = Seq((1L, "alpha beta gamma delta epsilon"),
          (2L, "totally different words entirely here"),
          (3L, "alpha beta gamma delta epsilon"),
          (4L, "yet another unrelated document text"))
        .toDF("doc_id", "text")
      val bg = AnnAdmission.admittedBatch(batch).collect()
        .map(a => a.doc_id -> a.admitted).toMap
      assert(bg == got)

      // TTL eviction: with a tiny processing-time TTL the standing
      // fingerprint ages out and the SAME text is re-admitted.
      // NB: TimeMode.ProcessingTime schedules micro-batches
      // CONTINUOUSLY under the default trigger (processAllAvailable
      // would never return), so results are collected by a driver-side
      // buffer and polled with a deadline.
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
      val mem2 = MemoryStream[(Long, String)]
      val docs2 = mem2.toDF().toDF("doc_id", "text")
      val q2 = AnnAdmission.admitted(docs2, maxHamming = 3,
          ttlMs = 100L)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("ann-ttl-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => r.getAs[Long]("doc_id") ->
            r.getAs[Boolean]("admitted"))
          buf.synchronized { buf ++= rows }
          ()
        }.start()
      def waitFor(id: Long): (Long, Boolean) = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (System.nanoTime() < deadline) {
          buf.synchronized { buf.find(_._1 == id) } match {
            case Some(r) => return r
            case None => Thread.sleep(100L)
          }
        }
        fail(s"doc $id never surfaced; got ${buf.synchronized(buf.toList)}")
      }
      mem2.addData((1L, "alpha beta gamma delta epsilon"))
      assert(waitFor(1L) == (1L -> true))
      Thread.sleep(1000L) // let the 100 ms TTL expire
      mem2.addData((2L, "alpha beta gamma delta epsilon"))
      assert(waitFor(2L) == (2L -> true),
        "TTL eviction did not re-open the slot")
      q2.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
