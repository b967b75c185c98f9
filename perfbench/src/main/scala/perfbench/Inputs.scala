package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded input generator. Everything the program later reads is
  * derived here from the fixture `events` table and the seed, and
  * written as files under the run's work directory; the program only
  * ever sees those files.
  *
  * Replication: replica `r` of a fixture event keeps its timestamp
  * (truncated to whole seconds, the resolution of the trade
  * envelope's `createTime`), moves to symbol `user_id + r * idSpan`,
  * and takes a seeded price jitter of at most ±1 %. Replica 0 keeps the
  * fixture ids, so the mart's exceptional symbol 7 stays in play.
  */
object Inputs {

  /** Fixture events replicated `replicas` times, with seeded jitter.
    * Timestamps are whole seconds and unique per symbol (a collision
    * moves to the next free second), so open/close bars stay
    * deterministic after the envelope round trip. */
  def events(spark: SparkSession, sfDir: String, replicas: Int,
      seed: Long): DataFrame = {
    val base = Tables.load(spark, sfDir, "events")
    val idSpan = base.agg(max(col("user_id"))).head().getLong(0) + 1
    val reps = spark.range(replicas).select(col("id").as("r"))
    val jitter = (pmod(xxhash64(lit(seed), col("r"), col("event_id")),
      lit(2001L)) - 1000).cast("double") / 100000.0
    val sec = unix_seconds(col("ts"))
    val raw = base.crossJoin(reps).select(
      (col("event_id") * replicas + col("r")).as("event_id"),
      sec.as("sec"),
      (col("user_id") + col("r") * idSpan).as("user_id"),
      col("event_type"),
      round(col("value") * (lit(1.0) + jitter), 2).as("value"),
      col("props"))
    val w = Window.partitionBy(col("user_id"), col("sec"))
      .orderBy(col("event_id"))
    raw.withColumn("sec", col("sec") + row_number().over(w) - 1)
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  private def str(c: Column): Column = c.cast("string")

  /** Market-trade envelope per event (market_trade.py wire shape). */
  def tradeEnvelopes(events: DataFrame): DataFrame =
    events.select(
      to_date(col("ts")).cast("string").as("day"),
      unix_seconds(col("ts")).as("order_key"),
      to_json(struct(array(struct(
        str(col("user_id")).as("id"),
        str(col("event_id")).as("trade_id"),
        when(col("event_id") % 2 === 0, "buy").otherwise("sell")
          .as("takerSide"),
        str(col("value")).as("amount"),
        lit("1").as("quantity"),
        str(col("value")).as("price"),
        str(unix_seconds(col("ts"))).as("createTime"),
        str(unix_seconds(col("ts"))).as("ts_send"))).as("data"))).as("value"))

  /** Reads envelope text files as the Kafka source's (key, value)
    * binary columns, the shape `Transforms` consumes. */
  def asKafka(text: DataFrame): DataFrame =
    text.select(lit(null).cast("binary").as("key"),
      col("value").cast("binary").as("value"))

  /** Moves a finished file into a watched directory in one rename, so
    * a file source never sees it half-written, and stamps its
    * modification time so sources list files in schedule order. */
  def publish(f: File, dir: File, name: String, mtimeMs: Long): File = {
    val target = new File(dir, name)
    Files.move(f.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    target.setLastModified(mtimeMs)
    target
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }
}
