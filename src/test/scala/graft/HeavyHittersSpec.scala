package graft

import graft.stream.HeavyHitters
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming heavy hitters ([[HeavyHitters]]): SpaceSaving summaries
  * per event-time window with one-shot emission on event-time timeout,
  * plus the kernel's order-independent guarantees above capacity.
  */
class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  test("kernel: exact regime (distinct <= m) is an exact count map") {
    val keys = Seq("a", "a", "b", "c", "a", "b")
    val st = HeavyHitters.fold(HeavyHitters.emptyState,
      keys.iterator, m = 8)
    assert(st.counts == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(st.errs.values.forall(_ == 0L))
    assert(st.n == 6L)
    // order independence in the exact regime: any permutation agrees
    val st2 = HeavyHitters.fold(HeavyHitters.emptyState,
      keys.reverse.iterator, m = 8)
    assert(st2.counts == st.counts && st2.errs == st.errs)
  }

  test("batch: requireExact fails loudly when a window exceeds m " +
      "distinct keys (shared-oracle precondition enforced)") {
    import spark.implicits._
    val df = (1 to 10).map(i => (1000L + i, s"k$i"))
      .toDF("epoch", "event_type")
      .select(org.apache.spark.sql.functions
        .timestamp_seconds(org.apache.spark.sql.functions.col("epoch"))
        .as("ts"), org.apache.spark.sql.functions.col("event_type"))
    // m = 4 < 10 distinct keys in one day window → eviction → throw
    val ex = intercept[org.apache.spark.SparkException] {
      HeavyHitters.spaceSavingBatch(df, "event_type", m = 4,
        minCount = 1L, windowLenS = 86400L, requireExact = true)
        .collect()
    }
    assert(ex.getMessage != null)
    // same data without the gate: runs, keeps the ε-guarantee
    assert(HeavyHitters.spaceSavingBatch(df, "event_type", m = 4,
      minCount = 1L, windowLenS = 86400L).collect().nonEmpty)
  }

  test("kernel: SpaceSaving guarantees above capacity, any fold order") {
    // 3 heavy keys + 20 singletons, m = 4: for every retained key
    // est >= true and est - err <= true; every key with
    // true > n/m must be retained (Metwally et al. 2005, Thm 2-3)
    val heavy = Seq.fill(30)("x") ++ Seq.fill(20)("y") ++ Seq.fill(12)("z")
    val noise = (1 to 20).map(i => s"n$i")
    val all = heavy ++ noise
    val truth = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (seed <- Seq(all, all.reverse, all.sorted)) {
      val st = HeavyHitters.fold(HeavyHitters.emptyState,
        seed.iterator, m = 4)
      assert(st.n == all.size.toLong)
      assert(st.counts.size <= 4)
      st.counts.foreach { case (k, est) =>
        val tc = truth.getOrElse(k, 0L)
        assert(est >= tc, s"$k over-estimate broken")
        assert(est - st.errs(k) <= tc, s"$k lower bound broken")
      }
      val guaranteeCut = all.size.toLong / 4
      truth.filter(_._2 > guaranteeCut).keys.foreach { k =>
        assert(st.counts.contains(k), s"frequent key $k evicted")
      }
    }
  }

  test("streaming: one emission per window at watermark, late rows " +
      "dropped; exact-regime output equals the exact batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("hh-out")
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF().toDF("epoch", "event_type")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_type"))
    val q = HeavyHitters.windowed(events, "event_type", m = 8,
        minCount = 3L, windowLenS = 3600L, lateness = "10 minutes")
      .toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("hh-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L - (1700000000L % 3600)
    // window 1: a x3 (hitter), b x1
    mem.addData((h + 1, "a"), (h + 2, "a"), (h + 3, "b"), (h + 4, "a"))
    // window 2: c x4
    mem.addData((h + 3601, "c"), (h + 3602, "c"), (h + 3603, "c"),
      (h + 3604, "c"))
    q.processAllAvailable()
    // watermark = max(ts) - 10 min: advance it past both window ends
    mem.addData((h + 3 * 3600, "zz"))
    q.processAllAvailable()
    // a late row for the already-emitted window 1 must not re-emit
    mem.addData((h + 5, "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t")
      .orderBy("window_start", "key").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("window_start") == h)
    assert(rows(0).getAs[String]("key") == "a")
    assert(rows(0).getAs[Long]("est") == 3L)
    assert(rows(0).getAs[Long]("err") == 0L)
    assert(rows(0).getAs[Boolean]("guaranteed"))
    assert(rows(0).getAs[Long]("n_window") == 4L)
    assert(rows(1).getAs[String]("key") == "c")
    assert(rows(1).getAs[Long]("est") == 4L)
    // exact-regime parity: the streaming emissions equal exactBatch
    // over the same CLOSED-window data
    val batch = Seq((h + 1, "a"), (h + 2, "a"), (h + 3, "b"),
        (h + 4, "a"), (h + 3601, "c"), (h + 3602, "c"),
        (h + 3603, "c"), (h + 3604, "c"))
      .toDF("epoch", "event_type")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_type"))
    val exact = HeavyHitters.exactBatch(batch, "event_type",
        minCount = 3L, windowLenS = 3600L)
      .orderBy("window_start", "key").collect()
    assert(exact.length == rows.length)
    exact.zip(rows).foreach { case (e, r) =>
      assert(e.getAs[Long]("window_start") == r.getAs[Long]("window_start"))
      assert(e.getAs[String]("key") == r.getAs[String]("key"))
      assert(e.getAs[Long]("est") == r.getAs[Long]("est"))
      assert(e.getAs[Long]("n_window") == r.getAs[Long]("n_window"))
    }
  }
}
