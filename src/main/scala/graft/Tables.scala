package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Catalog over the shared parquet fixtures (`TESTDATA.md`).
  *
  * Mirrors the reference's fixed-schema warehouse discipline (explicit
  * DDL everywhere — /root/reference/ddl/hive/crypto_raw/candles_day.ddl:3-31):
  * tables are loaded by name with their on-disk schema, never inferred
  * from samples.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts normalization — the engine's string/wire → typed
    // promotion stage in miniature (SURVEY.md §1.3). The fixture has
    // shipped two layouts: TIMESTAMP(NANOS), which Spark has no native
    // type for (sessions set spark.sql.legacy.parquet.nanosAsLong, so
    // it arrives as a nanos epoch long — truncate to micros; no
    // sub-microsecond ties exist, so orderings are unaffected), and
    // plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which arrives
    // as TIMESTAMP_NTZ. Either way the column leaves here as a session-
    // zone TIMESTAMP; sessions pin the zone to UTC, so the NTZ cast
    // re-labels the same instant rather than shifting it.
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", expr("cast(ts as timestamp)"))
        case _ => df
      }
    else df
  }
}
