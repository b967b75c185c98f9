package graft

import graft.ingest.Transforms
import graft.stream.Pipelines
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics (SURVEY.md §2.10): the envelope transforms over
  * a real stream, checkpointed foreachBatch delivery, recovery without
  * re-emitting processed batches, and per-batch PK dedup.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def envelope(id: String, close: Double, ts: Long): String =
    s"""{"data":[{"id":"$id","low":"${close - 1}","high":"${close + 1}",""" +
      s""""open":"$close","close":"$close","amount":"10.0","quantity":"1.0",""" +
      s""""tradeCount":"3","ts_send":"$ts","startTime":"$ts","closeTime":"$ts"}]}"""

  import TestSpark.tmp

  test("candles stream: parse + foreachBatch sink + checkpoint recovery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("stream-out")
    val ckpt = tmp("stream-ckpt")

    // Streaming source of raw (key, value) like the Kafka source after
    // the binary cast.
    val mem1 = MemoryStream[String]
    val raw1 = mem1.toDF().select(lit("k").as("key"), col("value"))
    mem1.addData(envelope("BTC", 100.0, 1700000000L),
      envelope("ETH", 50.0, 1700000060L))
    val q1 = Pipelines.parquetSink(
      Transforms.parseCandles(raw1), s"$out/t", ckpt,
      pk = Seq("id", "starttime"))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(s"$out/t").count() == 2)

    // Restart from the same checkpoint with a new source holding the
    // SAME first two messages plus one new one: the committed offsets
    // must prevent reprocessing of batch 0... a fresh MemoryStream has
    // fresh offsets, so instead verify the dedup path: replay all three.
    val mem2 = MemoryStream[String]
    val raw2 = mem2.toDF().select(lit("k").as("key"), col("value"))
    mem2.addData(envelope("BTC", 100.0, 1700000000L),
      envelope("BTC", 100.0, 1700000000L), // duplicate within batch
      envelope("ADA", 1.5, 1700000120L))
    val q2 = Pipelines.parquetSink(
      Transforms.parseCandles(raw2), s"$out/t2", tmp("stream-ckpt2"),
      pk = Seq("id", "starttime"))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(s"$out/t2")
    // In-batch duplicate collapsed by the PK dedup.
    assert(rows.count() == 2)
    assert(rows.where(col("id") === "BTC").count() == 1)
  }

  test("streaming corpus gate: online gopher + fingerprints == batch; " +
      "content-PK dedup collapses duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.stream.CorpusIngest
    import graft.llm.TextOps
    val out = tmp("corpus-out")

    val good = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away to find a quiet place in the woods of the north")
    val short = "too short"
    val docs = Seq((0L, good), (1L, short), (2L, good + " again"),
      (3L, good)) // doc 3 duplicates doc 0's content → same fp
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = CorpusIngest.run(stream, s"$out/t", tmp("corpus-ckpt"))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(s"$out/t")
    // the short doc is gated out; the content duplicate collapses on fp
    assert(got.count() == 2)
    assert(got.where(col("doc_id") === 1L).count() == 0)
    assert(got.select("fp").distinct().count() == 2)
    // online metrics/fingerprints equal the batch formulations
    val batchDf = docs.toDF("doc_id", "text")
    val keepIds = TextOps.gopherFilter(batchDf).where(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.select("doc_id").collect().map(_.getLong(0))
      .toSet.subsetOf(keepIds))
    val batchFp = batchDf.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"),
      TextOps.rollingFingerprint(col("text")).as("rolling_fp"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    got.select("doc_id", "fp", "rolling_fp").collect().foreach { r =>
      assert(batchFp(r.getLong(0)) == (r.getString(1), r.getLong(2)))
    }
    assert(got.select("simhash").collect()
      .forall(_.getString(0).length == graft.llm.Dedup.simhashBits))
  }

  test("streaming kmv distinct across micro-batches == batch estimate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.BottomKByHash
    // the sketch is a TypedImperativeAggregate with a real merge, so
    // the SAME kmvDistinct column runs as a stateful streaming
    // aggregate: state = the O(k) buffer, merged per micro-batch
    val b1 = (0 until 60).map(i => ("a", (i % 37).toLong)) ++
      (0 until 30).map(i => ("b", (i % 5).toLong))
    val b2 = (0 until 60).map(i => ("a", (i % 53).toLong)) :+ (("b", 9L))
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("g", "k")
      .groupBy("g").agg(BottomKByHash.kmvDistinct(col("k"), 8).as("ndv"))
      .writeStream.format("memory").queryName("kmv_sink")
      .outputMode("complete").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("kmv_sink").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = (b1 ++ b2).toDF("g", "k")
      .groupBy("g").agg(BottomKByHash.kmvDistinct(col("k"), 8).as("ndv"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == batch)
    // group b stayed under k=8 across both batches → exact count
    assert(got("b") == 6.0)
    // group a crossed k → the estimator branch, carried across batches
    assert(got("a") != 53.0 && got("a") > 8.0)
  }

  test("streaming count-min grid across micro-batches == batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.CountMinFrame
    // the grid build is groupBy+sum over fixed coordinates, so it runs
    // as a stateful streaming aggregate with O(d·w) state per group set
    val b1 = (0 until 300).map(i => s"k${i % 7}")
    val b2 = (0 until 200).map(i => s"k${i % 11}")
    val mem = MemoryStream[String]
    val q = CountMinFrame.sketch(mem.toDF().toDF("k"), col("k"), lit(1L),
        d = 4, w = 64)
      .writeStream.format("memory").queryName("cms_sink")
      .outputMode("complete").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cms_sink").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val batch = CountMinFrame.sketch((b1 ++ b2).toDF("k"), col("k"),
        lit(1L), d = 4, w = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == batch && got.nonEmpty)
  }

  test("streaming bloom grid across micro-batches == batch filter") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.BloomFrame
    // the grid build is groupBy+bit_or over fixed chunks, so it runs as
    // a stateful streaming aggregate with O(m/64) state — the online
    // form of the mergeable cross-day filter
    val b1 = (0 until 40).map(i => s"a$i")
    val b2 = (0 until 40).map(i => s"b$i")
    val mem = MemoryStream[String]
    val q = BloomFrame.build(mem.toDF().toDF("k"), col("k"),
        m = 1L << 12, d = 3)
      .writeStream.format("memory").queryName("bloom_sink")
      .outputMode("complete").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bloom_sink").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = BloomFrame.build((b1 ++ b2).toDF("k"), col("k"),
        m = 1L << 12, d = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch && got.nonEmpty)
    // the accumulated grid answers for BOTH batches' keys
    val probed = BloomFrame.mayContain((b1 ++ b2).toDF("k"), col("k"),
      spark.table("bloom_sink"), m = 1L << 12, d = 3)
    assert(probed.where(!col("bf_maybe")).count() == 0)
  }

  test("checkpoint: restarting the same source does not duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("ckpt-out")
    val ckpt = tmp("ckpt-ckpt")
    val mem = MemoryStream[String]
    val raw = mem.toDF().select(lit("k").as("key"), col("value"))
    mem.addData(envelope("BTC", 100.0, 1700000000L))
    val q1 = Pipelines.parquetSink(Transforms.parseCandles(raw),
      s"$out/t", ckpt)
    q1.processAllAvailable()
    q1.stop()
    // Same MemoryStream instance + same checkpoint: restart resumes
    // after the committed offset; only the new message lands.
    mem.addData(envelope("ETH", 50.0, 1700000060L))
    val q2 = Pipelines.parquetSink(Transforms.parseCandles(raw),
      s"$out/t", ckpt)
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(s"$out/t")
    assert(rows.count() == 2)
    assert(rows.select("id").distinct().count() == 2)
  }

  test("stateful dedup: dropDuplicatesWithinWatermark across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("wm-out")
    val mem = MemoryStream[String]
    val raw = mem.toDF().select(lit("k").as("key"), col("value"))
    val parsed = Transforms.parseCandles(raw)
      .withColumn("event_ts",
        to_timestamp(from_unixtime(col("starttime"))))
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("id", "starttime")
    val q = parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("wm-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    // Same PK in two different micro-batches: state-store dedup (not
    // just in-batch) must collapse them.
    mem.addData(envelope("BTC", 100.0, 1700000000L))
    q.processAllAvailable()
    mem.addData(envelope("BTC", 100.0, 1700000000L),
      envelope("ETH", 50.0, 1700000060L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t")
    assert(rows.count() == 2)
    assert(rows.where(col("id") === "BTC").count() == 1)
  }

  test("console debug sink starts and drains (S4)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val raw = mem.toDF().select(lit("k").as("key"), col("value"))
    mem.addData(envelope("BTC", 100.0, 1700000000L))
    val q = Pipelines.consoleSink(Transforms.parseCandles(raw))
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.map(_.numInputRows).sum == 1)
  }

  test("progress monitoring: lastProgress reports the processed rows") {
    // The reference monitors Kafka-vs-Spark offset lag off the query's
    // progress (check_offset_diff.py:39-69); the Spark-native signal is
    // StreamingQuery.lastProgress/recentProgress.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val raw = mem.toDF().select(lit("k").as("key"), col("value"))
    mem.addData(envelope("BTC", 100.0, 1700000000L),
      envelope("ETH", 50.0, 1700000060L),
      envelope("ADA", 1.5, 1700000120L))
    val q = Pipelines.parquetSink(Transforms.parseCandles(raw),
      s"${tmp("prog-out")}/t", tmp("prog-ckpt"))
    q.processAllAvailable()
    val processed = q.recentProgress.map(_.numInputRows).sum
    q.stop()
    assert(processed == 3)
  }

  test("offset-lag rule: fires only when above threshold AND growing") {
    import graft.stream.OffsetLagMonitor
    val m = new OffsetLagMonitor(threshold = 1000)
    // first observation: no previous log → never alerts (reference
    // check_offset_diff.py:50-55)
    assert(m.observe(Map("t-0" -> 1500L, "t-1" -> 100L)).isEmpty)
    // above threshold but SHRINKING → no alert
    assert(m.observe(Map("t-0" -> 1400L, "t-1" -> 200L)).isEmpty)
    // growing AND above threshold → fires for t-0 only
    val fired = m.observe(Map("t-0" -> 1600L, "t-1" -> 300L))
    assert(fired.map(_.partition) == Seq("t-0"))
    assert(fired.head.lag == 1600L && fired.head.prevLag == 1400L)
    // growing but below threshold → clears (no new alert)
    assert(m.observe(Map("t-0" -> 900L, "t-1" -> 400L)).isEmpty)
    assert(m.alerts.size == 1)
  }

  test("offset-lag parsing: kafka topic map and scalar offsets") {
    import graft.stream.OffsetLag
    assert(OffsetLag.parseOffsets("""{"candles":{"1":10,"0":5}}""") ==
      Map("candles-0" -> 5L, "candles-1" -> 10L))
    assert(OffsetLag.parseOffsets("3") == Map("0" -> 3L))
    assert(OffsetLag.parseOffsets(null) == Map.empty)
    assert(OffsetLag.lags(
      committed = Map("candles-0" -> 5L),
      latest = Map("candles-0" -> 1500L, "candles-1" -> 7L)) ==
      Map("candles-0" -> 1495L, "candles-1" -> 7L))
  }

  test("offset-lag monitor attaches as a listener and sees progress") {
    import graft.stream.OffsetLagMonitor
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val m = new OffsetLagMonitor
    spark.streams.addListener(m)
    try {
      val mem = MemoryStream[String]
      val raw = mem.toDF().select(lit("k").as("key"), col("value"))
      mem.addData(envelope("BTC", 100.0, 1700000000L))
      val q = Pipelines.parquetSink(Transforms.parseCandles(raw),
        s"${tmp("lag-out")}/t", tmp("lag-ckpt"))
      q.processAllAvailable()
      q.stop()
      // listener bus is async: poll for delivery
      val deadline = System.currentTimeMillis() + 15000
      while (m.progressCount == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(m.progressCount > 0)
      // MemoryStream is fully drained each batch → no lag, no alerts
      assert(m.alerts.isEmpty)
    } finally spark.streams.removeListener(m)
  }

  test("streaming bars: watermarked tumbling window emits closed OHLCV") {
    import graft.stream.Windowed
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("bars-out")
    val mem = MemoryStream[(String, Long, Double)]
    val ticks = mem.toDF().toDF("id", "epoch", "price")
      .select(col("id"), timestamp_seconds(col("epoch")).as("ts"),
        col("price"))
    val q = Windowed.streamingBars(ticks).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("bars-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L - (1700000000L % 3600) // hour-aligned base
    // one full hour of BTC ticks: open 100 (earliest), high 120, low 95,
    // close 110 (latest)
    mem.addData(("BTC", h + 60, 100.0), ("BTC", h + 600, 120.0),
      ("BTC", h + 1200, 95.0), ("BTC", h + 3000, 110.0))
    q.processAllAvailable()
    // advance the watermark past hour end + 30 min lateness → bar closes
    mem.addData(("BTC", h + 3600 + 1900, 50.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t").collect()
    assert(rows.length == 1) // only the CLOSED window emitted
    val r = rows(0)
    assert(r.getAs[String]("id") == "BTC")
    assert(r.getAs[Double]("open") == 100.0)
    assert(r.getAs[Double]("high") == 120.0)
    assert(r.getAs[Double]("low") == 95.0)
    assert(r.getAs[Double]("close") == 110.0)
    assert(r.getAs[Double]("volume") == 4.0)
  }

  test("flatMapGroupsWithState: per-key state persists across batches") {
    import graft.stream.Windowed
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("state-out")
    val mem = MemoryStream[(String, Long, Double)]
    val ticks = mem.toDF().toDF("id", "epoch", "price")
      .select(col("id"), timestamp_seconds(col("epoch")).as("ts"),
        col("price")).as[Windowed.Tick]
    val q = Windowed.runningTicker(ticks).writeStream
      .outputMode("update")
      .option("checkpointLocation", tmp("state-ckpt"))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[Windowed.TickerUpdate], id: Long) =>
          b.withColumn("batch", lit(id))
            .write.mode("append").parquet(s"$out/t")
      }.start()
    mem.addData(("BTC", 1700000000L, 100.0), ("BTC", 1700000060L, 105.0),
      ("ETH", 1700000000L, 50.0))
    q.processAllAvailable()
    mem.addData(("BTC", 1700000120L, 98.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t")
    val btc2 = rows.where(col("id") === "BTC")
      .orderBy(col("batch").desc).collect()(0)
    // state carried across batches: count 3, high from batch 1, last
    // from batch 2
    assert(btc2.getAs[Long]("n") == 3L)
    assert(btc2.getAs[Double]("high") == 105.0)
    assert(btc2.getAs[Double]("last") == 98.0)
    assert(rows.where(col("id") === "ETH").count() == 1)
  }

  test("fused order-book explode equals the ask-union-bid formulation") {
    import spark.implicits._
    val book =
      """{"data":[{"id":"BTC","seqid":"7","createTime":"1700000000",""" +
        """"ts_send":"1700000001","asks":[["100.5","2"],["101.0","1"]],""" +
        """"bids":[["99.5","3"]]}]}"""
    val emptySide =
      """{"data":[{"id":"ETH","seqid":"8","createTime":"1700000060",""" +
        """"ts_send":"1700000061","asks":[],"bids":[["49.0","5"]]}]}"""
    val raw = Seq(book, emptySide).toDF("value")
      .select(lit("k").as("key"), col("value"))
    val union = graft.ingest.Transforms.explodeOrderBook(raw)
      .drop("ts_insert_utc")
    val fused = graft.ingest.Transforms.explodeOrderBookFused(raw)
      .drop("ts_insert_utc")
    assert(union.columns.toSeq == fused.columns.toSeq)
    assert(fused.exceptAll(union).isEmpty && union.exceptAll(fused).isEmpty)
  }

  test("order-book explode over a stream, incl. empty-side NULL rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("book-out")
    val mem = MemoryStream[String]
    val raw = mem.toDF().select(lit("k").as("key"), col("value"))
    val book =
      """{"data":[{"id":"BTC","seqid":"1","asks":[["100.1","2"],["100.2","3"]],""" +
        """"bids":[],"createTime":"1700000000","ts_send":"1700000000"}]}"""
    mem.addData(book)
    val q = Pipelines.parquetSink(Transforms.explodeOrderBook(raw),
      s"$out/t", tmp("book-ckpt"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t")
    // 2 ask levels + 1 NULL bid row from posexplode_outer on [].
    assert(rows.count() == 3)
    val bid = rows.where(col("order_type") === "bid").collect()
    assert(bid.length == 1 && bid(0).getAs[Any]("order_rank") == null)
    val asks = rows.where(col("order_type") === "ask")
      .orderBy("order_rank").collect()
    assert(asks.map(_.getAs[Int]("order_rank")).toSeq == Seq(1, 2))
    assert(asks(0).getAs[String]("quote_price") == "100.1")
  }

  test("online FULL mart across micro-batches == batch indicators sans chikou") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.mart.{IndicatorDay, MartConfig}
    import graft.stream.IndicatorStream
    import graft.stream.IndicatorStream.FullBarIn
    import graft.ts.Bars

    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val nm = MartConfig.crypto.nMultipleCol
    val bars = Bars.hourly(events).select(col("id"), col("t"),
      (col("high") * nm).as("high"), (col("low") * nm).as("low"),
      (col("close") * nm).as("close"), col("volume"))
    val all = bars.as[FullBarIn].collect().sortBy(b => (b.t, b.id))
    val cut1 = all(all.length / 3).t
    val cut2 = all(2 * all.length / 3).t

    val mem = MemoryStream[FullBarIn]
    val q = IndicatorStream.onlineMart(mem.toDS())
      .writeStream.format("memory").queryName("mart_online")
      .outputMode("append").start()
    mem.addData(all.filter(_.t < cut1).toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(all.filter(b => b.t >= cut1 && b.t < cut2).toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(all.filter(_.t >= cut2).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val online = spark.table("mart_online")

    // batch: the raw (pre-edge) indicator frame over unscaled bars —
    // indicators() applies the same nm internally
    val batch = IndicatorDay.indicators(
      Bars.hourly(events).withColumn("tkey", col("t")), carry = Seq("t"))
    val cols = online.columns.filter(c => c != "id" && c != "t")
    assert(cols.length == 23)
    val joined = online.as("o").join(batch.as("b"),
      col("o.id") === col("b.id") && col("o.t") === col("b.t"))
    assert(joined.count() == all.length && online.count() == all.length)
    val mismatches = joined.where(
      cols.map(c => !(col(s"o.$c") <=> col(s"b.$c"))).reduce(_ || _))
    assert(mismatches.count() == 0,
      mismatches.select(col("o.id"), col("o.t")).limit(5).collect().mkString)
  }

  test("stream state store hands off to the batch incremental refresh") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.mart.MartConfig
    import graft.stream.IndicatorStream
    import graft.stream.IndicatorStream.BarIn
    import graft.ts.Bars

    // the stream consumes the prefix (scaled closes, the mart's input
    // convention), persisting per-symbol state in the checkpoint
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val scaled = (col("close") * MartConfig.crypto.nMultipleCol).as("close")
    val fromT = 1705708800L
    val prefix = Bars.hourly(events)
      .select(col("id"), col("t"), scaled, col("volume"))
      .where(col("t") < fromT).as[BarIn].collect()
    val mem = MemoryStream[BarIn]
    val ckpt = tmp("handoff-ckpt")
    val q = IndicatorStream.onlineIndicators(mem.toDS())
      .writeStream.format("memory").queryName("ind_handoff")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    mem.addData(prefix.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()

    // the batch refresh seeded from the STREAM's state must equal the
    // refresh seeded from the batch-derived snapshot — the handoff the
    // shared recursion-state design promises
    assertStateHandsOff(events, ckpt, "value.groupState", fromT)
  }

  /** Read a checkpoint's state store back (Spark state data source),
    * map the IndState layout at `statePath` onto the stateSnapshot
    * sidecar schema (field NAMES differ, camelCase vs snake_case, but
    * the seeded aggregates read their seed structs positionally and
    * positions match by construction), feed the batch incremental
    * refresh, and pin it bit-equal to the batch-derived snapshot.
    */
  private def assertStateHandsOff(events: org.apache.spark.sql.DataFrame,
      ckpt: String, statePath: String, fromT: Long): Unit = {
    import graft.mart.IndicatorDay
    import graft.ts.Bars
    val g = statePath
    val handedOff = spark.read.format("statestore")
      .option("path", ckpt).load()
      .select(col("key.value").as("id"),
        col(s"$g.n").as("rn0"), col(s"$g.obv").as("obv0"),
        col(s"$g.e5").as("ema5_st"), col(s"$g.e10").as("ema10_st"),
        col(s"$g.e30").as("ema30_st"), col(s"$g.e12").as("ema12_st"),
        col(s"$g.e26").as("ema26_st"), col(s"$g.s9").as("sig9_st"),
        col(s"$g.rsi").as("rsi_st"))
    val bars = Bars.hourly(events).withColumn("tkey", col("t"))
    val viaStream = IndicatorDay.incrementalFrom(bars, handedOff,
        lit(fromT), carry = Seq("t"), tailBars = 77)
      .where(col("_live"))
    val derived = IndicatorDay.incrementalFrom(bars, lit(fromT),
        carry = Seq("t"))
      .where(col("_live"))
    val a = derived.orderBy("id", "tkey").collect()
    val b = viaStream.orderBy("id", "tkey").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("onlineMart state (nested core) also hands off to the batch refresh") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.mart.MartConfig
    import graft.stream.IndicatorStream
    import graft.stream.IndicatorStream.FullBarIn
    import graft.ts.Bars

    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val nm = MartConfig.crypto.nMultipleCol
    val fromT = 1705708800L
    val prefix = Bars.hourly(events).select(col("id"), col("t"),
        (col("high") * nm).as("high"), (col("low") * nm).as("low"),
        (col("close") * nm).as("close"), col("volume"))
      .where(col("t") < fromT).as[FullBarIn].collect()
    val mem = MemoryStream[FullBarIn]
    val ckpt = tmp("fullmart-ckpt")
    val q = IndicatorStream.onlineMart(mem.toDS())
      .writeStream.format("memory").queryName("mart_handoff")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    mem.addData(prefix.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()

    // FullState nests the recursion snapshot as `core`: one more path
    // segment than the IndState layout, otherwise the same mapping
    assertStateHandsOff(events, ckpt, "value.groupState.core", fromT)
  }

  test("online indicator stream across micro-batches == batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.mart.MartConfig
    import graft.stream.IndicatorStream
    import graft.stream.IndicatorStream.BarIn
    import graft.functions.TaFunctions
    import graft.ts.Bars
    import org.apache.spark.sql.expressions.Window

    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val scaled = (col("close") * MartConfig.crypto.nMultipleCol).as("close")
    val bars = Bars.hourly(events)
      .select(col("id"), col("t"), scaled, col("volume"))
    val all = bars.as[BarIn].collect().sortBy(b => (b.t, b.id))

    // three contiguous event-time slices = three micro-batches; per
    // symbol the stream sees its bars in order across batches
    val cut1 = all(all.length / 3).t
    val cut2 = all(2 * all.length / 3).t
    val mem = MemoryStream[BarIn]
    val q = IndicatorStream.onlineIndicators(mem.toDS())
      .writeStream.format("memory").queryName("ind_online")
      .outputMode("append").start()
    mem.addData(all.filter(_.t < cut1).toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(all.filter(b => b.t >= cut1 && b.t < cut2).toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(all.filter(_.t >= cut2).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val online = spark.table("ind_online")

    // batch expectation: the mart's native running aggregates over the
    // same scaled bars (identical operation order -> bit-equal)
    val w = Window.partitionBy(col("id")).orderBy(col("t"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val b1 = bars.select(col("id"), col("t"), col("close"), col("volume"),
      TaFunctions.ema(col("close"), 5).over(run).as("ema5"),
      TaFunctions.ema(col("close"), 10).over(run).as("ema10"),
      TaFunctions.ema(col("close"), 30).over(run).as("ema30"),
      (TaFunctions.ema(col("close"), 12).over(run) -
        TaFunctions.ema(col("close"), 26).over(run)).as("macd"),
      TaFunctions.wilderRsi(col("close"), 14).over(run).as("rsi"),
      when(lag(col("close"), 1).over(w).isNull, lit(0.0))
        .when(col("close") > lag(col("close"), 1).over(w), col("volume"))
        .when(col("close") < lag(col("close"), 1).over(w), -col("volume"))
        .otherwise(lit(0.0)).as("obv_step"))
    val expected = b1.select(col("id"), col("t"), col("ema5"),
      col("ema10"), col("ema30"), col("macd"),
      TaFunctions.ema(col("macd"), 9).over(run).as("macd_single"),
      col("rsi"), sum(col("obv_step")).over(run).as("obv"))

    assert(online.count() == all.length)
    val joined = online.as("o").join(expected.as("e"),
      col("o.id") === col("e.id") && col("o.t") === col("e.t"))
    assert(joined.count() == all.length)
    val mismatches = joined.where(
      Seq("ema5", "ema10", "ema30", "macd", "macd_single", "rsi", "obv")
        .map(c => !(col(s"o.$c") <=> col(s"e.$c")))
        .reduce(_ || _)).count()
    assert(mismatches == 0)
  }

  test("hll registers maintain over a stream == batch sketch (complete mode)") {
    // the running-cardinality shape HllFrame exists for: the register
    // max-aggregate IS a streaming aggregation, so the standing sketch
    // updates per micro-batch with bounded (≤ m-row) state and must
    // land exactly on the batch computation over the union of batches
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Long]
    val sdf = mem.toDF().select(lit("g").as("g"), col("value"))
    val regs = graft.functions.HllFrame.registers(sdf, Seq("g"), col("value"))
    val q = regs.writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    mem.addData(1L to 500L: _*)
    q.processAllAvailable()
    mem.addData(300L to 900L: _*) // overlapping second batch
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_regs")
      .select("reg", "mr").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSet
    val batch = graft.functions.HllFrame.registers(
        (1L to 900L).map(("g", _)).toDF("g", "value"), Seq("g"), col("value"))
      .select("reg", "mr").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSet
    assert(streamed == batch)
  }

  test("dropDuplicatesWithinWatermark: cross-batch dup dropped inside " +
      "the horizon, state evicted after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("ddww-out")
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF().toDF("epoch", "event_id")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_id"))
    val q = Pipelines.dedupWithinWatermark(events, Seq("event_id"),
        lateness = "10 minutes")
      .select(col("event_id"), col("ts").cast("long").as("ts_s"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("ddww-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L
    // batch 1: key 1 admitted
    mem.addData((h, 1L))
    q.processAllAvailable()
    // batch 2: the SAME key inside the horizon — dropped even though
    // it arrives in a DIFFERENT micro-batch (the cross-batch property
    // the per-batch dropDuplicates cannot give)
    mem.addData((h + 60, 1L))
    q.processAllAvailable()
    // batch 3: advance the watermark far past key 1's state...
    mem.addData((h + 7200, 2L))
    q.processAllAvailable()
    // ...then key 1 again: its dedup state was EVICTED, so this is a
    // NEW event and is admitted (bounded-state semantics, by design)
    mem.addData((h + 7300, 1L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t").orderBy("ts_s").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, h), (2L, h + 7200), (1L, h + 7300)))
  }
}
