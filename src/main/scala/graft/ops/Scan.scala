package graft.ops

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed GLOBAL prefix scan — a running total over an entire
  * table in key order, WITHOUT the single-partition window Spark
  * plans for `sum(...) over (order by k)` (the classic job-killer:
  * one task materializes the whole table).
  *
  * The two-level scan from the PRAM playbook: range-repartition by
  * the key (range partition i holds strictly smaller keys than
  * i + 1 — Spark's RangePartitioner contract), compute
  * partition-LOCAL running sums with an ordinary partitioned window,
  * reduce each partition to its total (one row per partition), scan
  * those totals — a single-partition window over #partitions rows,
  * metadata-sized at any table size — and broadcast the resulting
  * exclusive offsets back onto the local scans.
  *
  * The output is partitioning-INVARIANT: whatever boundaries the
  * range sampler picks, local + offset telescopes to the same global
  * running sum. Requires `keyCols` to form a UNIQUE key (callers
  * pre-aggregate ties away) — with duplicate keys "the running sum at
  * a row" is ill-defined in any engine.
  */
object Scan {

  /** df + `run` = global running sum of `v` in `keyCols` order
    * (inclusive of the current row). `v` should be integral/decimal
    * for an exact scan; doubles would be summation-order-dependent.
    */
  def globalRunningSum(df: DataFrame, keyCols: Seq[String], v: Column,
      run: String = "run"): DataFrame =
    globalRunningSums(df, keyCols, Seq(v -> run))

  /** Multi-column form: all running sums ride ONE range shuffle and
    * one offset broadcast. */
  def globalRunningSums(df: DataFrame, keyCols: Seq[String],
      vs: Seq[(Column, String)]): DataFrame = {
    val keys = keyCols.map(col)
    val parted = df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Checkpoints(_)) // pin range boundaries: local scans
                                 // and totals must see the SAME
                                 // partitioning
    val wLocal = Window.partitionBy(col("__pid")).orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = vs.zipWithIndex.foldLeft(parted) {
      case (acc, ((v, _), i)) =>
        acc.withColumn(s"__rl$i", sum(v).over(wLocal))
    }
    val totals = parted.groupBy(col("__pid"))
      .agg(sum(vs.head._1).as("__t0"),
        vs.tail.zipWithIndex.map { case ((v, _), i) =>
          sum(v).as(s"__t${i + 1}") }: _*)
    // #partitions rows — the one place a single-partition window is
    // CORRECT at scale, because its input is metadata-sized
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = vs.indices.foldLeft(totals) { (acc, i) =>
      acc.withColumn(s"__off$i",
        coalesce(sum(col(s"__t$i")).over(wOff), lit(0L)))
    }.select(col("__pid") +: vs.indices.map(i => col(s"__off$i")): _*)
    val joined = local.join(broadcast(offs), "__pid")
    vs.zipWithIndex.foldLeft(joined) { case (acc, ((_, name), i)) =>
      acc.withColumn(name, col(s"__rl$i") + col(s"__off$i"))
    }.drop("__pid" +: vs.indices.flatMap(i =>
      Seq(s"__rl$i", s"__off$i")): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic at scale:
    * D = max over observed values of |F̂₁ − F̂₂|, computed from
    * per-value counts (one bounded groupBy) + ONE distributed global
    * scan carrying both running counts — never a per-sample sort on a
    * single task. Exact, not a quantile-grid approximation: D is
    * attained at sample points, and both ECDFs are rational counts.
    *
    * @return one row: (n1, n2, d, at_value) — d rounded to 4, tie on
    *         the max broken toward the SMALLEST attaining value
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g2: String): DataFrame = {
    val counts = df.where(col(groupCol).isin(g1, g2) &&
        col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("c2"))
      .transform(Checkpoints(_)) // feeds the scan twice + the totals row
    val n = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val scanned = globalRunningSums(counts, Seq("v"),
      Seq(col("c1") -> "r1", col("c2") -> "r2"))
    scanned.crossJoin(broadcast(n))
      .select(col("n1"), col("n2"),
        struct(
          (abs(col("r1").cast("double") / col("n1") -
            col("r2").cast("double") / col("n2")) * lit(-1.0)).as("nd"),
          col("v").as("v")).as("s"))
      .groupBy(col("n1"), col("n2")) // constants → one map-side-min group
      .agg(min(col("s")).as("m"))
      .select(col("n1"), col("n2"),
        round(col("m.nd") * lit(-1.0), 4).cast("float").as("d"),
        col("m.v").as("at_value"))
  }

  /** GLOBAL rank + percent_rank for every row of a table — the
    * classic single-partition-window job-killer
    * (`percent_rank() OVER (ORDER BY v)`) replaced by the two-level
    * scan: per-value counts, the distributed running sum, then ONE
    * hash equi-join of the (distinct-value-sized) rank table back
    * onto the rows. Ties share their min-rank (SQL RANK semantics),
    * so ranks are well-defined and the join is exact.
    *
    * @return the input row id + value + (rnk, pct) — pct =
    *         (rank−1)/(n−1) rounded to 6, REAL
    */
  def globalPercentRank(df: DataFrame, idCol: String,
      valueCol: String): DataFrame = {
    val rows = df.where(col(valueCol).isNotNull)
      .select(col(idCol), col(valueCol).as("v"))
    val counts = rows.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints(_)) // feeds the scan and the totals row
    val n = counts.agg(sum(col("c")).as("n"))
    val ranks = globalRunningSum(counts, Seq("v"), col("c"), "run")
      .crossJoin(broadcast(n))
      .select(col("v"), (col("run") - col("c") + 1).as("rnk"),
        // n = 1 makes (rank−1)/(n−1) a 0/0 NaN; the SQL builtin
        // defines a single row's percent_rank as 0 — match it
        when(col("n") > 1,
          round((col("run") - col("c")).cast("double") / (col("n") - 1), 6))
          .otherwise(lit(0d))
          .cast("float").as("pct"))
    rows.join(ranks, "v")
      .select(col(idCol), col("v").as(valueCol), col("rnk"), col("pct"))
  }

  /** EQUI-DEPTH histogram (the optimizer-statistics/data-profiling
    * bucket shape: ~n/B rows per bucket, however skewed the values) —
    * exact and deterministic, defined at VALUE granularity so ties
    * never straddle buckets: a distinct value v with `prev` rows
    * strictly below it lands whole in bucket ⌊prev·B/n⌋.
    *
    * Scale shape: per-value counts (map-side combined) + ONE
    * distributed global scan ([[globalRunningSum]]) + a B-row
    * aggregate — never a global sort or single-partition ntile window
    * (the textbook `ntile(B) OVER (ORDER BY v)` plans exactly that
    * job-killer, and splits ties arbitrarily besides).
    *
    * @return (bucket, n_values, n_rows, v_min, v_max), ≤ B rows
    */
  def equiDepthHist(df: DataFrame, valueCol: String,
      buckets: Int): DataFrame = {
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))
      .transform(Checkpoints(_)) // feeds the scan and the totals row
    val n = counts.agg(sum(col("c")).as("n"))
    globalRunningSum(counts, Seq("v"), col("c"), "run")
      .crossJoin(broadcast(n))
      .withColumn("bucket",
        expr(s"((run - c) * $buckets) div n").cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_values"), sum(col("c")).as("n_rows"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
  }
}
