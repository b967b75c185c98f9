package graft

import graft.stream.QuantileSketch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windowed quantiles ([[QuantileSketch]]): bottom-k merge
  * law (order independence, split-fold associativity), batch ==
  * BottomKByHash-aggregate parity, one-shot streaming emission at
  * watermark passage.
  */
class QuantileSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  test("kernel: bottom-k fold is order-independent and split folds " +
      "merge to the same sample (the KMV merge law)") {
    val rows = Seq("c" -> 3.0, "a" -> 1.0, "e" -> 5.0, "b" -> 2.0,
      "d" -> 4.0)
    val a = QuantileSketch.fold(Nil, rows.iterator, 3)
    val b = QuantileSketch.fold(Nil, rows.reverse.iterator, 3)
    assert(a == List("a" -> 1.0, "b" -> 2.0, "c" -> 3.0) && a == b)
    val c = QuantileSketch.fold(
      QuantileSketch.fold(Nil, rows.take(2).iterator, 3),
      rows.drop(2).iterator, 3)
    assert(c == a)
    // emission sorts by VALUE (the selection rule's order), keeps n
    val em = QuantileSketch.emitSample(0L,
      List("a" -> 9.0, "b" -> 2.0), 7L)
    assert(em.vs == Seq(2.0, 9.0) && em.n_rows == 7L)
  }

  test("batch kernel equals the BottomKByHash typed aggregate (the " +
      "q103 machinery) keyed by window") {
    import spark.implicits._
    val h = 1700000000L - (1700000000L % 86400L)
    val df = (1 to 600).map(i =>
        (h + (i % 2) * 86400L + i, i.toLong, i.toDouble))
      .toDF("epoch", "event_id", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_id"),
        col("value"))
    val got = QuantileSketch.exactBatch(df, col("value"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    // the q103 aggregate, keyed by the same window bucket
    val agg = df.where(col("value").isNotNull && col("event_id").isNotNull)
      .select((col("ts").cast("long") -
          pmod(col("ts").cast("long"), lit(86400L))).as("ws"),
        col("event_id"), col("value"))
      .groupBy(col("ws"))
      .agg(graft.functions.BottomKByHash(
          col("value"), col("event_id"), 200).as("vs"),
        count(lit(1)).as("n_rows"))
    val sorted = sort_array(col("vs"))
    def q(p: Double, name: String) = element_at(sorted,
      (floor(lit(p) * (size(col("vs")) - 1)) + 1).cast("int")).as(name)
    val want = agg.where(size(col("vs")) > 0)
      .select(col("ws"), col("n_rows"), size(col("vs")).as("n_sample"),
        q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(got == want && got.size == 2)
    got.foreach { case (_, n, k, _, _, _) =>
      assert(n == 300 && k == 200)
    }
  }

  test("streaming: one-shot emission per window at watermark " +
      "passage; equals the batch kernel on the closed window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("qsk-out")
    val mem = MemoryStream[(Long, Long, Double)]
    val events = mem.toDF().toDF("epoch", "event_id", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_id"),
        col("value"))
    val q = QuantileSketch.windowed(events, col("value"), col("event_id"),
        k = 3, windowLenS = 3600L, lateness = "5 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("qsk-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L - (1700000000L % 3600L)
    // window 1 across two micro-batches: 5 rows, k = 3 truncation
    mem.addData((h + 10, 1L, 10.0), (h + 20, 2L, 20.0), (h + 30, 3L, 30.0))
    q.processAllAvailable()
    mem.addData((h + 40, 4L, 40.0), (h + 50, 5L, 50.0))
    q.processAllAvailable()
    // nothing emitted yet: window 1 still open
    assert(!new java.io.File(s"$out/t").exists() ||
      spark.read.parquet(s"$out/t").count() == 0)
    // far-future rows close window 1 via the event-time timeout
    mem.addData((h + 100000, 9L, 1.0))
    q.processAllAvailable()
    mem.addData((h + 200000, 9L, 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val w1 = rows.find(_._1 == h).get
    // parity with the batch kernel over window 1's events
    val batch = Seq((h + 10, 1L, 10.0), (h + 20, 2L, 20.0),
        (h + 30, 3L, 30.0), (h + 40, 4L, 40.0), (h + 50, 5L, 50.0))
      .toDF("epoch", "event_id", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_id"),
        col("value"))
    val want = QuantileSketch.exactBatch(batch, col("value"),
        col("event_id"), k = 3, windowLenS = 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).head
    assert(w1 == want)
    assert(w1._2 == 5 && w1._3 == 3) // exact count survives truncation
  }
}
