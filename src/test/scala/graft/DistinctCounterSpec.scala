package graft

import graft.stream.DistinctCounter
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windowed HLL cardinality ([[DistinctCounter]]): max-fold
  * order independence, batch == HllFrame parity, one-shot streaming
  * emission at watermark passage.
  */
class DistinctCounterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  test("kernel: register fold is max, any order, duplicates free") {
    val rows = Seq(1 -> 3, 2 -> 5, 1 -> 7, 2 -> 2, 1 -> 7)
    val a = DistinctCounter.fold(Map.empty, rows.iterator)
    val b = DistinctCounter.fold(Map.empty, rows.reverse.iterator)
    assert(a == Map(1 -> 7, 2 -> 5) && a == b)
    // split folds merge to the same state (the mergeable-sketch law)
    val c = DistinctCounter.fold(
      DistinctCounter.fold(Map.empty, rows.take(2).iterator),
      rows.drop(2).iterator)
    assert(c == a)
    val card = DistinctCounter.emitCard(0L, a)
    assert(card.n_registers == 2 &&
      card.s_present == (1L << 42) + (1L << 44))
  }

  test("batch kernel equals the HllFrame frame op on the same windows") {
    import spark.implicits._
    val h = 1700000000L
    // 2000 distinct users per window — above the raw estimator's
    // ~2.5·m small-range cutoff (no linear-counting correction by
    // design, see HllFrame scaladoc)
    val df = (1 to 4000).map(i =>
        (h + (i % 2) * 86400L + i % 1000, i.toLong / 2))
      .toDF("epoch", "user_id")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("user_id"))
    val got = DistinctCounter.exactBatch(df, col("user_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getFloat(2))).toSet
    val regs = graft.functions.HllFrame.registers(
      df.select((col("ts").cast("long") -
          pmod(col("ts").cast("long"), lit(86400L))).as("ws"),
        col("user_id")),
      Seq("ws"), col("user_id"))
    val want = graft.functions.HllFrame.estimate(regs, Seq("ws"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getFloat(2))).toSet
    assert(got == want && got.size == 2)
    // ~2000 distinct users/window (σ ≈ 6.5% at m = 256): ±25% sanity
    got.foreach { case (_, _, est) =>
      assert(est > 1500 && est < 2500, s"est $est implausible for ~2000")
    }
  }

  test("streaming: one-shot emission per window at watermark " +
      "passage; equals the batch kernel on the closed window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("hllw-out")
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF().toDF("epoch", "user_id")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("user_id"))
    val q = DistinctCounter.windowed(events, col("user_id"),
        windowLenS = 3600L, lateness = "5 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("hllw-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L - (1700000000L % 3600L)
    // window 1: users 1..5 across two micro-batches (state carries)
    mem.addData((h + 10, 1L), (h + 20, 2L), (h + 30, 3L))
    q.processAllAvailable()
    mem.addData((h + 40, 4L), (h + 50, 5L), (h + 60, 1L))
    q.processAllAvailable()
    // nothing emitted yet: window 1 still open
    assert(!new java.io.File(s"$out/t").exists() ||
      spark.read.parquet(s"$out/t").count() == 0)
    // far-future row closes window 1 via the event-time timeout
    mem.addData((h + 100000, 9L))
    q.processAllAvailable()
    mem.addData((h + 200000, 9L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getFloat(2)))
    assert(rows.length >= 1)
    val w1 = rows.find(_._1 == h).get
    // parity: the batch kernel over window 1's events agrees exactly
    val batch = Seq((h + 10, 1L), (h + 20, 2L), (h + 30, 3L),
        (h + 40, 4L), (h + 50, 5L), (h + 60, 1L))
      .toDF("epoch", "user_id")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("user_id"))
    val want = DistinctCounter.exactBatch(batch, col("user_id"),
        windowLenS = 3600L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2)))
      .head
    assert(w1 == want)
    assert(w1._2 == 5) // 5 distinct users hit 5 registers (m = 256)
  }
}
