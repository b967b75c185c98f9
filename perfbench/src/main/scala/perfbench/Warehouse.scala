package perfbench

import java.io.File
import graft.SparkEntry
import graft.ingest.Transforms
import graft.load.PartitionIO
import graft.mart.{CloseStats, IndicatorDay}
import graft.stream.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** `warehouse_batch`: the reference's data flow over the market-trade
  * topic, closed loop, one client.
  *
  * A day lands by publishing its trade envelope files (at most
  * `perFile` envelopes each) into the directory a file-source stream
  * reads, at most `filesPerTrigger` files per trigger (the reference's
  * `maxOffsetsPerTrigger=10000`), through `Transforms.parseTrades` and
  * `Pipelines.parquetSink`.
  *
  * The first step is a backfill: it starts the stream, bulk-lands the
  * leading `backfillDays` days with the same transform, reloads them
  * into the day-partitioned warehouse (`PartitionIO.reloadTrailingWindow`)
  * and builds the indicator and close-stats marts. Each later step is
  * one daily refresh: land the day, redo the reference's trailing-window
  * DELETE+INSERT (`DAYS_DELETE_FROM` = `trailingDays`) and rebuild both
  * marts. `minRefreshes` refreshes run, more only if days remain while
  * the measuring window is open.
  *
  * Checks, all outside the timed steps: the landing store equals the
  * same transform run statically over the published files, and the
  * marts left by the last step equal their DuckDB oracles over the
  * events landed so far (compared by the launcher).
  */
object Warehouse {
  /** Fixture scale and replication: 100k events over 1500 symbols and
    * 30 days, of which the first `backfillDays + minRefreshes` are used. */
  val scale = "sf0.1"
  val replicas = 1
  val perFile = 1000
  val filesPerTrigger = 10
  val backfillDays = 6
  val minRefreshes = 2
  /** The reference reloads `DAYS_DELETE_FROM = 10` trailing days of a long
    * history; over 8 days a 3-day window keeps the refresh's shape, a
    * small rewrite while the whole history is read. */
  val trailingDays = 3

  private def parse(raw: DataFrame): DataFrame =
    Transforms.parseTrades(raw, withInsertTs = false)

  /** Warehouse trades read back as the marts' `events` input. */
  private def eventsOf(trades: DataFrame): DataFrame =
    trades.select(col("trade_id").cast("long").as("event_id"),
      timestamp_seconds(col("createtime").cast("long")).as("ts"),
      col("id").cast("long").as("user_id"),
      col("price").cast("double").as("value"))

  private def closeStats(events: DataFrame): DataFrame =
    CloseStats(events)
      .withColumn("year", year(col("dt_end")).cast("int"))
      .withColumn("month", month(col("dt_end")).cast("int"))

  /** Progress reports of the streaming queries (traced runs only). */
  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamingQueryListener.QueryProgressEvent]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e)
  }

  /** (day, envelope files of that day in time order), days in order. */
  private def staged(gen: String): Seq[(String, Seq[File])] =
    new File(s"$gen/staged").listFiles.toSeq.filter(_.getName.startsWith("day="))
      .sortBy(_.getName).map(d => d.getName.stripPrefix("day=") ->
        d.listFiles.toSeq.filter(_.getName.startsWith("part-")).sortBy(_.getName))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val w = s"${ctx.work}/wh"
    var gen = ""
    var days = Seq.empty[(String, Seq[File])]
    val setup = ctx.setupReps { rep =>
      gen = s"${ctx.work}/gen$rep"
      val all = Inputs.events(spark, s"${ctx.fixtures}/$scale", replicas, ctx.seed)
      val first = all.agg(min(to_date(col("ts")))).head().getDate(0)
      all.where(to_date(col("ts")) <
          date_add(lit(first), backfillDays + minRefreshes))
        .write.parquet(s"$gen/events.parquet")
      // each day is written by one task in event-time order, so its
      // files, taken in name order, hold consecutive stretches of time
      Inputs.tradeEnvelopes(spark.read.parquet(s"$gen/events.parquet"))
        .repartition(col("day")).sortWithinPartitions("day", "order_key", "value")
        .select(col("day"), col("value"))
        .write.option("maxRecordsPerFile", perFile.toLong).partitionBy("day")
        .text(s"$gen/staged")
      days = staged(gen)
      // warm-up: the transform and the write path on one file
      parse(Inputs.asKafka(spark.read.text(days.head._2.head.getPath)))
        .write.parquet(s"$gen/warm")
    }
    require(days.size > backfillDays, s"only ${days.size} days of input")
    val live = new File(s"$w/live")
    live.mkdirs()
    val progress = new Progress
    if (tr.enabled) spark.streams.addListener(progress)

    val published = Seq.newBuilder[File]
    var mtime = System.currentTimeMillis() - 3600000L
    var landing: StreamingQuery = null
    def startStream(): Unit = {
      val raw = Inputs.asKafka(spark.readStream
        .option("maxFilesPerTrigger", filesPerTrigger.toLong).text(live.getPath))
      landing = Pipelines.parquetSink(parse(raw), s"$w/landing", s"$w/ckpt")
      // the stream's jobs force Transforms: they bill to ingest
      tr.bindGroup(landing.runId.toString, "ingest")
    }

    def bulkIngest(ds: Seq[(String, Seq[File])]): Unit = tr.span("ingest.trades") {
      val fs = ds.flatMap(_._2)
      parse(Inputs.asKafka(spark.read.text(fs.map(_.getPath): _*)))
        .write.mode("append").parquet(s"$w/landing")
      published ++= fs
    }

    def streamIngest(day: (String, Seq[File])): Unit = tr.span("ingest.trades") {
      for (f <- day._2) {
        mtime += 1
        published += Inputs.publish(f, live, s"${day._1}-${f.getName}", mtime)
      }
      landing.processAllAvailable()
    }

    def load(asOf: String, window: Int): Unit = tr.span("load.trades") {
      ctx.diskWrites(s"$w/warehouse") {
        PartitionIO.reloadTrailingWindow(
          spark.read.parquet(s"$w/landing")
            .withColumn("dt", to_date(col("dt_create_utc"))),
          s"$w/warehouse", "dt", window, asOf)
      }
    }

    def marts(): Unit = {
      val events = eventsOf(spark.read.parquet(s"$w/warehouse"))
      tr.span("mart.indicator") {
        PartitionIO.overwritePartitions(IndicatorDay(events),
          s"$w/mart/indicator_day", Seq("year", "month"))
      }
      tr.span("mart.closestats") {
        PartitionIO.overwritePartitions(closeStats(events),
          s"$w/mart/close_stats", Seq("year", "month"))
      }
    }

    val lead = days.take(backfillDays)
    val deadline = ctx.deadline()
    val backfill = ctx.time(tr.span("backfill") {
      startStream()
      bulkIngest(lead); load(lead.last._1, backfillDays - 1); marts()
    })
    Log(f"backfill $backfill%.2fs")
    val refreshes = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[(Boolean, Double)]
    var next = backfillDays
    while (next < days.size &&
        (next < backfillDays + minRefreshes || System.nanoTime() < deadline)) {
      // in a traced run every other refresh runs with tracing
      // suspended, which gives the tracing overhead on equal work
      val on = next % 2 == 0
      val day = days(next)
      val s = ctx.time(tr.suspendedUnless(on) {
        tr.span("refresh") { streamIngest(day); load(day._1, trailingDays); marts() }
      })
      Log(f"refresh ${day._1} $s%.2fs")
      refreshes += s
      traced += ((on, s))
      next += 1
    }
    landing.stop()
    if (tr.enabled) { tr.drain(); spark.streams.removeListener(progress) }
    val rf = refreshes.result()
    val files = published.result()

    // checks, outside every timed step
    val static = parse(Inputs.asKafka(spark.read.text(files.map(_.getPath): _*)))
    val checks = Seq(
      Check.sameRows("landing store == static parse",
        spark.read.parquet(s"$w/landing").select(static.columns.map(col): _*), static),
      Check("landing stream ran clean", landing.exception.isEmpty,
        landing.exception.map(_.getMessage).getOrElse("")))
    val eventsView = s"SELECT * FROM read_parquet('$gen/events.parquet/*.parquet') " +
      s"WHERE CAST(ts AS DATE) <= DATE '${days(next - 1)._1}'"
    val oracles = Seq(
      "q40_indicator_day" -> s"$w/mart/indicator_day",
      "q30_close_stats" -> s"$w/mart/close_stats").map { case (n, path) =>
      // the registry entry over the generated events gives the columns
      val want = SparkEntry.queries(n)(spark, gen).columns
      spark.read.parquet(path).select(want.map(col): _*)
        .write.parquet(s"${ctx.work}/check/$n")
      Oracle(n, SparkEntry.oracleSql(n), s"${ctx.work}/check/$n",
        Map("events" -> eventsView))
    }

    val envelopes = files.map(f => scala.util.Using.resource(
      java.nio.file.Files.lines(f.toPath))(_.count())).sum.toDouble
    val e2e = Map(
      "bulk_s" -> backfill,
      "step_s" -> Stats.median(rf))
    val named = Map("backfill_s" -> backfill, "refresh_s" -> Stats.median(rf),
      "setup_s" -> setup, "refreshes" -> rf.size.toDouble,
      "envelopes" -> envelopes)
    val extra = Layers.streamLayer(progress,
      Main.files(new File(s"$w/landing")).count(_.getName.endsWith(".parquet")))
    Outcome(setup, e2e, named, checks, oracles, 1L + rf.size,
      Layers.overheadFrac(traced.result()), extra)
  }
}
