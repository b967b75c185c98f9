package graft

import graft.stream.Throttle
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Alert throttling ([[Throttle]]): greedy cooldown kernel, the
  * transformWithState streaming path (ValueState in a RocksDB state
  * store), and streaming == batch parity across micro-batches.
  */
class ThrottleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  test("kernel: first passes, in-cooldown suppressed, suppression " +
      "does not reset the clock, prior state carries") {
    def a(t: Long, e: Long) = Throttle.Alert(1L, t, e)
    val (p1, l1) = Throttle.foldCooldown(
      Seq(a(100, 1), a(150, 2), a(3699, 3), a(3700, 4)), None, 3600L)
    // 100 passes; 150 and 3699 inside [100, 3700); 3700 passes
    assert(p1.map(_.ts_s) == Seq(100L, 3700L))
    assert(l1.contains(3700L))
    // resumed fold: prior last-emit suppresses the next batch's head
    val (p2, _) = Throttle.foldCooldown(Seq(a(3800, 5), a(7300, 6)),
      l1, 3600L)
    assert(p2.map(_.ts_s) == Seq(7300L))
  }

  test("transformWithState: ValueState survives micro-batches; " +
      "streaming equals the batch kernel on in-order data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val out = tmp("thr-out")
      val mem = MemoryStream[(Long, Long, Long)]
      val events = mem.toDF().toDF("epoch", "user_id", "event_id")
        .select(timestamp_seconds(col("epoch")).as("ts"),
          col("user_id"), col("event_id"))
      val q = Throttle.throttled(events, cooldownS = 3600L)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmp("thr-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$out/t")
        }.start()
      val h = 1700000000L
      // batch 1: user 1 alerts at h (passes) and h+60 (suppressed)
      mem.addData((h, 1L, 1L), (h + 60, 1L, 2L))
      q.processAllAvailable()
      // batch 2: h+1800 still inside the cooldown carried in
      // ValueState; h+3600 exactly at the boundary passes (>=)
      mem.addData((h + 1800, 1L, 3L), (h + 3600, 1L, 4L))
      q.processAllAvailable()
      // batch 3: a second user is independent state
      mem.addData((h + 100, 2L, 5L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.read.parquet(s"$out/t")
        .orderBy("user_id", "ts_s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq((1L, h, 1L), (1L, h + 3600, 4L),
        (2L, h + 100, 5L)))
      // parity: the batch kernel over the same in-order data agrees
      val batch = Seq((h, 1L, 1L), (h + 60, 1L, 2L), (h + 1800, 1L, 3L),
          (h + 3600, 1L, 4L), (h + 100, 2L, 5L))
        .toDF("epoch", "user_id", "event_id")
        .select(timestamp_seconds(col("epoch")).as("ts"),
          col("user_id"), col("event_id"))
      val got = Throttle.throttledBatch(batch, 3600L).collect()
        .map(p => (p.user_id, p.ts_s, p.event_id)).toSeq.sorted
      assert(got == rows.sorted)
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
