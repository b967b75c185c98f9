package graft.load

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Idempotent partitioned-table reload (SURVEY.md §2.1 S6–S10).
  *
  * The reference's late-data strategy is a daily Trino loop: DELETE the
  * trailing N day-partitions, assert-empty, then INSERT INTO … SELECT
  * from the hot store, re-deriving year/month/day from the event time
  * (airflow/etl_scripts/trino/D_Load_crypto_candles_day_001.sql:1-7,
  * …_002.sql:1-6, …_003.sql:1-52; loop
  * airflow/dags/daily_dags/D_Load_crypto_candles_day.py:94-102), and
  * for the mart a month-partition DELETE + wrk→final INSERT swap
  * (D_Create_crypto_ind_day_001.sql:1-5, …_002.sql:1-6).
  *
  * Spark has no row-level DELETE on files; the Spark-native equivalent
  * is DYNAMIC partition overwrite — `mode(overwrite)` with
  * `partitionOverwriteMode=dynamic` rewrites exactly the partitions
  * present in the incoming frame and leaves every other partition
  * untouched. That folds the reference's DELETE + verify + INSERT +
  * wrk-swap into one atomic-per-partition operation that is idempotent
  * under retries (Airflow retries=3) — re-running the same overwrite
  * converges to the same state instead of duplicating rows.
  *
  * Scale: each partition writes from its own tasks; no driver
  * involvement, no global barrier beyond the job commit. Partition
  * columns should be low-cardinality derivations of event time
  * (year/month/day), so 100 TB spreads over O(days × shuffle
  * parallelism) files.
  */
object PartitionIO {

  /** S7: derive the reference's (year, month, day) partition columns
    * from a date column (D_Load_crypto_candles_day_003.sql:40-47).
    */
  def withDayPartitions(df: DataFrame, dateCol: String): DataFrame =
    df.withColumn("year", year(col(dateCol)).cast("int"))
      .withColumn("month", month(col(dateCol)).cast("int"))
      .withColumn("day", dayofmonth(col(dateCol)).cast("int"))

  /** S7 at HOUR grain: the minute/second tables partition by
    * (year, month, day, hour) — ddl/hive/crypto_raw/candles_minute.ddl
    * :24-28 — with the hour derived from the event timestamp.
    */
  def withHourPartitions(df: DataFrame, tsCol: String): DataFrame =
    withDayPartitions(df, tsCol)
      .withColumn("hour", hour(col(tsCol)).cast("int"))

  /** S8+S10: overwrite exactly the partitions present in `updates`.
    * Everything not touched by `updates` is preserved. `clusterBy`
    * sorts rows within write tasks (after the partition columns) so
    * parquet row-group min/max stats support point-lookup skipping —
    * the lakehouse analog of the reference's Cassandra clustering keys
    * (ddl/cassandra/crypto/candles_day.ddl:22).
    */
  def overwritePartitions(updates: DataFrame, path: String,
      partitionCols: Seq[String], clusterBy: Seq[String] = Nil,
      format: String = "parquet"): Unit = {
    // Cluster rows by their TARGET partition before the write: without
    // this every write task opens a writer in every partition dir it
    // sees rows for — tasks × partitions small files and writer churn
    // (measured 6× on the 720-dir hour-grain load). After the
    // repartition each dir is written by one task; within-partition
    // parallelism for a genuinely hot partition is clusterBy/salting's
    // job, not the default.
    val clustered = updates.repartition(partitionCols.map(col): _*)
    val toWrite =
      if (clusterBy.isEmpty) clustered
      else clustered.sortWithinPartitions((partitionCols ++ clusterBy).map(col): _*)
    // per-WRITE option, not the session-global conf toggle: a global
    // set/restore races with any concurrent write on the same session
    // (a concurrent full overwrite could clobber untouched partitions)
    // `format`: the reference warehouse stores everything ORC+Snappy
    // (ddl/hive/crypto_raw/candles_day.ddl:28-31) — pass "orc" for
    // parity (Spark's ORC writer defaults to Snappy compression);
    // parquet stays the default for the oracle-compared fixtures.
    toWrite.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).format(format).save(path)
  }

  /** The reference's trailing-window reload: rows of `source` whose
    * `dateCol` falls in [asOf − days, asOf] — both ends inclusive, so
    * `days + 1` day-partitions are rewritten, matching the reference's
    * BETWEEN-style delete loop. `DAYS_DELETE_FROM=10`
    * (D_Load_crypto_candles_day.py:17).
    */
  def reloadTrailingWindow(source: DataFrame, path: String, dateCol: String,
      days: Int, asOf: String): Unit = {
    val windowed = source
      .where(col(dateCol) >= date_sub(lit(asOf).cast("date"), days)
        && col(dateCol) <= lit(asOf).cast("date"))
    overwritePartitions(withDayPartitions(windowed, dateCol), path,
      Seq("year", "month", "day"), clusterBy = Seq("id"))
  }

  /** Recursively force every nullability flag true so the type-flip
    * check compares SHAPE only (an `array<int>` whose containsNull
    * differs is the same type for append purposes). */
  private def normalizeNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(e, _) =>
        ArrayType(normalizeNullability(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(normalizeNullability(k), normalizeNullability(v),
          valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f => f.copy(
        dataType = normalizeNullability(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Additive schema evolution on the incremental write path — dbt's
    * `on_schema_change='append_new_columns'`
    * (modules/dbt/crypto_etl_pjr/models/crypto/marts/
    * crypto_daily_close_stats.sql:3-9) re-expressed for a parquet
    * lake:
    *
    *  - columns NEW in `updates` simply land in the new files; old
    *    files lack them and read back as NULL under `mergeSchema`
    *    (no table rewrite — evolution is metadata-only, which is the
    *    only affordable shape at 100 TB),
    *  - columns the table has but `updates` lacks are NEVER dropped:
    *    they are appended to `updates` as typed NULLs so the new
    *    files stay self-describing and a non-merge reader of one
    *    partition still sees the full historical schema,
    *  - shared columns keep the existing table's type (a silent type
    *    flip would corrupt the union — caught here loudly instead).
    *
    * Composes with dynamic partition overwrite, so the evolved write
    * keeps S6–S10's idempotency-under-retry.
    */
  def appendNewColumns(updates: DataFrame, path: String,
      partitionCols: Seq[String], clusterBy: Seq[String] = Nil,
      format: String = "parquet"): Unit = {
    val spark = updates.sparkSession
    val existing =
      try Some(spark.read.format(format).option("mergeSchema", "true")
        .load(path).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val aligned = existing match {
      case None => updates
      case Some(schema) =>
        val incoming = updates.columns.map(c => c.toLowerCase -> c).toMap
        schema.fields.foreach { f =>
          incoming.get(f.name.toLowerCase).foreach { c =>
            val it = updates.schema(c).dataType
            // nullability flags (containsNull / struct-field nullable)
            // are not a type flip — the union is safe either way
            require(normalizeNullability(it) ==
                normalizeNullability(f.dataType),
              s"append_new_columns: column '$c' type flip " +
                s"${f.dataType.simpleString} -> ${it.simpleString}; " +
                "additive evolution never changes an existing column's type")
          }
        }
        schema.fields.filterNot(f => incoming.contains(f.name.toLowerCase))
          .foldLeft(updates)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    overwritePartitions(aligned, path, partitionCols, clusterBy, format)
  }

  /** Read a table whose files may span schema versions: parquet/ORC
    * footer union via `mergeSchema` — pre-evolution files surface the
    * appended columns as NULL. */
  def readEvolved(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String = "parquet"): DataFrame =
    spark.read.option("mergeSchema", "true").format(format).load(path)

  /** Trailing-window reload at HOUR grain: rows whose hour-bucket
    * falls in [trunc(asOf) − hours, trunc(asOf)] — both ends
    * inclusive, so `hours + 1` buckets are rewritten (same convention
    * as [[reloadTrailingWindow]]) — into their (year, month, day,
    * hour) partitions: the `candles_minute`-shaped reload, one level
    * deeper than the day tables.
    */
  def reloadTrailingHours(source: DataFrame, path: String, tsCol: String,
      hours: Int, asOf: String, format: String = "parquet"): Unit = {
    val hi = date_trunc("hour", lit(asOf).cast("timestamp"))
    val lo = hi - expr(s"INTERVAL $hours HOURS")
    val windowed = source
      .where(date_trunc("hour", col(tsCol)) >= lo &&
        date_trunc("hour", col(tsCol)) <= hi)
    overwritePartitions(withHourPartitions(windowed, tsCol), path,
      Seq("year", "month", "day", "hour"), clusterBy = Seq("id"),
      format = format)
  }
}
