package graft

import graft.stream.Sessions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming gap-rule sessionization ([[Sessions]]): sessions close
  * by in-stream gap or by event-time timeout; batch form emits every
  * session except each user's open tail.
  */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  test("kernel: gap fold closes on strict gap, carries state across " +
      "calls, counts ties in one session") {
    val evs = Seq(Sessions.Ev(1, 100, 1), Sessions.Ev(1, 100, 2),
      Sessions.Ev(1, 130, 3), Sessions.Ev(1, 200, 4))
    // gap 60: (100,100,130) one session (gap 130-100=30), 200 breaks
    // (200-130=70 > 60)
    val (closed, open) = Sessions.foldEvents(1L, None, evs, 60L)
    assert(closed == Seq(Sessions.SessionOut(1, 100, 130, 3)))
    assert(open.contains(Sessions.SessState(200, 200, 1)))
    // resumed fold: event within gap extends the open session
    val (c2, o2) = Sessions.foldEvents(1L, open,
      Seq(Sessions.Ev(1, 230, 5)), 60L)
    assert(c2.isEmpty && o2.contains(Sessions.SessState(200, 230, 2)))
    // boundary: gap EXACTLY 60 does not break (strict >)
    val (c3, _) = Sessions.foldEvents(1L, o2,
      Seq(Sessions.Ev(1, 290, 6)), 60L)
    assert(c3.isEmpty)
  }

  test("kernel: an out-of-order event predating the open session's " +
      "start folds in order-independently (start moves earlier)") {
    val open = Some(Sessions.SessState(200, 200, 1))
    val (c, o) = Sessions.foldEvents(1L, open,
      Seq(Sessions.Ev(1, 150, 9)), 60L)
    assert(c.isEmpty && o.contains(Sessions.SessState(150, 200, 2)))
  }

  test("streaming: cross-batch out-of-order event inside the " +
      "lateness horizon yields the same session_start as in-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("sess-ooo-out")
    val mem = MemoryStream[(Long, Long, Long)]
    val events = mem.toDF().toDF("epoch", "user_id", "event_id")
      .select(timestamp_seconds(col("epoch")).as("ts"),
        col("user_id"), col("event_id"))
    val q = Sessions.gapSessions(events, gapSeconds = 3600L,
        lateness = "10 minutes")
      .toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("sess-ooo-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L
    // batch 1 opens the session at h+600; batch 2 delivers an
    // out-of-order event at h+60, strictly inside the lateness
    // horizon (watermark after batch 1 = h+600-600 = h) —
    // session_start must move EARLIER, to h+60, exactly as if both
    // events had arrived in one batch
    mem.addData((h + 600, 1L, 1L))
    q.processAllAvailable()
    mem.addData((h + 60, 1L, 2L))
    q.processAllAvailable()
    // gap event closes the session
    mem.addData((h + 7800, 1L, 3L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t")
      .orderBy("session_start").collect()
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows(0).getAs[Long]("session_start") == h + 60 &&
      rows(0).getAs[Long]("session_end") == h + 600 &&
      rows(0).getAs[Long]("n_events") == 2L)
  }

  test("streaming: close by gap event, close by timeout, late row " +
      "cannot resurrect an emitted session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("sess-out")
    val mem = MemoryStream[(Long, Long, Long)]
    val events = mem.toDF().toDF("epoch", "user_id", "event_id")
      .select(timestamp_seconds(col("epoch")).as("ts"),
        col("user_id"), col("event_id"))
    val q = Sessions.gapSessions(events, gapSeconds = 3600L,
        lateness = "10 minutes")
      .toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("sess-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L
    // user 1: two events 10 min apart, then one 2 h later — the gap
    // event closes session 1 in-stream
    mem.addData((h, 1L, 1L), (h + 600, 1L, 2L))
    mem.addData((h + 7800, 1L, 3L))
    q.processAllAvailable()
    // user 2 far in the future: watermark passes user 1's
    // (last + gap), so the timeout closes user 1's open session
    mem.addData((h + 100000, 2L, 4L))
    q.processAllAvailable()
    mem.addData((h + 200000, 2L, 5L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t")
      .orderBy("user_id", "session_start").collect()
    // user 1: the gap-closed (h, h+600, 2) and the timeout-closed
    // (h+7800, h+7800, 1); user 2's 2-event session closed by gap
    // (100000→200000 > 3600)
    assert(rows.length == 3, rows.mkString(";"))
    assert(rows(0).getAs[Long]("user_id") == 1L &&
      rows(0).getAs[Long]("session_start") == h &&
      rows(0).getAs[Long]("session_end") == h + 600 &&
      rows(0).getAs[Long]("n_events") == 2L)
    assert(rows(1).getAs[Long]("session_start") == h + 7800 &&
      rows(1).getAs[Long]("n_events") == 1L)
    assert(rows(2).getAs[Long]("user_id") == 2L &&
      rows(2).getAs[Long]("n_events") == 1L)
  }

  test("batch parity: emits all sessions except each user's last") {
    import spark.implicits._
    val df = Seq(
        (1000L, 7L, 1L), (1100L, 7L, 2L), // session A (closed by B)
        (9000L, 7L, 3L), // session B = user 7's open tail
        (500L, 8L, 4L)) // user 8's only session = open tail
      .toDF("epoch", "user_id", "event_id")
      .select(timestamp_seconds(col("epoch")).as("ts"),
        col("user_id"), col("event_id"))
    val got = Sessions.gapSessions(df, gapSeconds = 3600L).collect()
    assert(got.toSeq == Seq(Sessions.SessionOut(7L, 1000L, 1100L, 2L)))
  }
}
