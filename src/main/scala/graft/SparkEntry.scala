package graft

import graft.mart.CloseStats
import graft.queries.QueryPack
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's operator surface is organized as [[graft.queries.QueryPack]]s,
  * one per capability family; this object is just the merged registry the
  * verify/bench drivers consume.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    graft.queries.Relational,
    graft.queries.Analytics,
    graft.queries.Mart,
    graft.queries.Indicators,
    graft.queries.Streaming,
    graft.queries.LoadIngest,
    graft.queries.TimeJoins,
    graft.queries.LlmPack,
    graft.queries.CorpusPack)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's analytical centerpiece: crypto_daily_close_stats
    * (multi-range windowed close statistics over a calendar spine).
    */
  def entry(spark: SparkSession): DataFrame =
    CloseStats(Tables.load(spark, "/root/testdata/sf0.001", "events"))

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * runs in a [[Checkpoints]] scope: the checkpoints it made that the
    * frame it returns does not read are released before it returns. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).map { case (name, f) =>
      name -> ((s: SparkSession, d: String) => Checkpoints.scoped(f(s, d)))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracleSql).toMap

  /** Query name → owning pack, for per-family bench subtotals. */
  def families: Map[String, String] =
    packs.flatMap(p => p.queries.keys.map(_ -> p.packName)).toMap
}
