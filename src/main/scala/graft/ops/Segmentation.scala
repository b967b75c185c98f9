package graft.ops

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Customer-base segmentation primitives: RFM quintile scoring and
  * funnel time-to-convert quantiles — the two readouts every
  * warehouse's marketing/product schema ships next to the q173/q174
  * funnel/retention matrix.
  *
  * Both ride the repo's distributed order-statistic machinery
  * ([[Scan.globalRunningSum]] over per-value counts): a quantile or
  * quintile boundary is an integer-arithmetic rule on exact
  * cumulative counts — never a per-row ntile() sort on one task, and
  * tied values land in the same bin by construction (cum-before is a
  * function of the value alone), which percentile-rank sorts get
  * wrong across engines.
  */
object Segmentation {

  private def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** RFM quintile scores per customer (Hughes 1994): recency (days
    * since last order), frequency (order count), monetary (lifetime
    * cents), each binned 1..5 by the integer rule
    * bin = (5·cum_before) div n + 1 on exact counts. Bins are
    * ascending in the VALUE (r_bin 1 = most recent buyers, f_bin 5 =
    * most frequent, m_bin 5 = biggest spenders... r_bin is ascending
    * in days-since, so 1 is best).
    *
    * Scale shape: one per-customer groupBy; per metric one bounded
    * per-value groupBy + one distributed scan + one value-keyed join
    * back. All exact integers end to end.
    *
    * @return (cust, recency_days, frequency, monetary, r_bin, f_bin,
    *         m_bin, rfm)
    */
  def rfmQuintiles(orders: DataFrame): DataFrame = {
    val per = orders.where(col("o_custkey").isNotNull &&
        col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey").as("cust"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("mon_c"))
    val mx = per.agg(max(col("last_d")).as("d1"))
    val base = per.crossJoin(broadcast(mx))
      .select(col("cust"),
        datediff(col("d1"), col("last_d")).as("recency_days"),
        col("frequency"), col("mon_c"))
      .transform(Checkpoints(_)) // feeds the three metric scans + output
    def bins(c: String, name: String): DataFrame = {
      val counts = base.groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("ct"))
      val n = counts.agg(sum(col("ct")).as("n"))
      Scan.globalRunningSum(counts, Seq("v"), col("ct"), "rt")
        .crossJoin(broadcast(n))
        .select(col("v"),
          (expr("((rt - ct) * 5) div n") + 1).cast("int").as(name))
    }
    base
      .join(bins("recency_days", "r_bin")
        .select(col("v").as("recency_days"), col("r_bin")),
        Seq("recency_days"))
      .join(bins("frequency", "f_bin")
        .select(col("v").as("frequency"), col("f_bin")),
        Seq("frequency"))
      .join(bins("mon_c", "m_bin")
        .select(col("v").as("mon_c"), col("m_bin")), Seq("mon_c"))
      .select(col("cust"), col("recency_days"), col("frequency"),
        round(col("mon_c").cast("double") / lit(100.0), 2)
          .cast("float").as("monetary"),
        col("r_bin"), col("f_bin"), col("m_bin"),
        concat(lit("r"), col("r_bin"), lit("f"), col("f_bin"),
          lit("m"), col("m_bin")).as("rfm"))
  }

  /** Pareto concentration deciles — the 80/20 curve beside q200's
    * Gini and q322's HHI: customers ranked by lifetime revenue
    * (DESC, customer-key tie-break — a TOTAL order, so tied values
    * split deterministically), cut into rank deciles by the integer
    * rule ((rk−1)·10) div n, each decile's revenue share and the
    * cumulative share. Ranks come from ONE distributed scan over the
    * per-customer frame — never a single-task sort; the 10-row decile
    * frame is the documented metadata window exception.
    *
    * Assumes n ≥ 10 customers (always true of the TPC-H-shaped
    * fixture): with fewer, the integer rule degenerates to one
    * decile row per customer and the numbering no longer spans 0–9.
    *
    * @return 10 rows (decile, n_customers, revenue, rev_share,
    *         cum_share)
    */
  def paretoDeciles(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = orders.where(col("o_custkey").isNotNull &&
        col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .select((-col("rev")).as("nr"), col("cust"), col("rev"))
    val scanned = Scan.globalRunningSum(per, Seq("nr", "cust"),
      lit(1L), "rk")
    val tot = per.agg(count(lit(1)).as("n"),
      sum(col("rev").cast("decimal(38,0)")).as("t"))
    val dd = scanned.crossJoin(broadcast(tot))
      .groupBy(expr("((rk - 1) * 10) div n").cast("int").as("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev").cast("decimal(38,0)")).as("rev_c"),
        max(col("t")).as("t"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dd.withColumn("cum_c", sum(col("rev_c")).over(w))
      .select(col("decile"), col("n_customers"),
        round(col("rev_c").cast("double") / lit(100.0), 2)
          .cast("float").as("revenue"),
        round(col("rev_c").cast("double") / col("t").cast("double"), 4)
          .cast("float").as("rev_share"),
        round(col("cum_c").cast("double") / col("t").cast("double"), 4)
          .cast("float").as("cum_share"))
  }

  /** Session bounce-rate rollup over the shared gap-rule sessions
    * (q18's contract): single-event-session share, events per
    * session, session duration — the engagement headline trio.
    * Exact counts; the three readouts one IEEE division each on a
    * one-row frame.
    *
    * @return one row (n_sessions, n_bounce, bounce_rate,
    *         avg_events, avg_duration_s)
    */
  def bounceRate(events: DataFrame, gapS: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val flagged = ev.select(col("*"),
      when(lag(col("t"), 1).over(w).isNull ||
        col("t") - lag(col("t"), 1).over(w) > gapS, 1L)
        .otherwise(0L).as("is_new"))
    val sessions = flagged.select(col("user_id"), col("t"),
        sum(col("is_new")).over(w.rowsBetween(
          Window.unboundedPreceding, 0)).as("sid"))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("t")) - min(col("t"))).as("dur"))
    sessions.agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"),
        sum(col("n_events")).as("tot_ev"), sum(col("dur")).as("tot_dur"))
      .select(col("n_sessions"), col("n_bounce"),
        round(col("n_bounce").cast("double") /
          col("n_sessions").cast("double"), 4).cast("float")
          .as("bounce_rate"),
        round(col("tot_ev").cast("double") /
          col("n_sessions").cast("double"), 4).cast("float")
          .as("avg_events"),
        round(col("tot_dur").cast("double") /
          col("n_sessions").cast("double"), 2).cast("float")
          .as("avg_duration_s"))
  }

  /** Funnel time-to-convert quantiles: per user, seconds from FIRST
    * `from` event to FIRST `to` event at-or-after it; p25/p50/p75/p90
    * as exact order statistics (value at rank ⌈q·n⌉ — the smallest
    * delta whose cumulative count reaches the rank) off per-value
    * counts + ONE distributed scan. Everything is an exact integer;
    * no interpolation, no single-task sort.
    *
    * @return one row (n_converted, p25_s, p50_s, p75_s, p90_s)
    */
  def timeToConvert(events: DataFrame, fromType: String,
      toType: String): DataFrame = {
    val ev = events.where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"))
    val firsts = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === fromType, col("t"))).as("t0"))
      .where(col("t0").isNotNull)
    val conv = ev.where(col("event_type") === toType)
      .join(firsts, Seq("user_id"))
      .where(col("t") >= col("t0"))
      .groupBy(col("user_id"), col("t0"))
      .agg(min(col("t")).as("t1"))
      .select((col("t1") - col("t0")).as("delta"))
    val counts = conv.groupBy(col("delta")).agg(count(lit(1)).as("ct"))
      .transform(Checkpoints(_)) // feeds the scan AND the total row
    val n = counts.agg(sum(col("ct")).as("n"))
    val scanned = Scan.globalRunningSum(counts, Seq("delta"),
      col("ct"), "rt").crossJoin(broadcast(n))
    def q(num: Int, den: Int, name: String): Column =
      // rank = ceil(num/den · n) = (num·n + den − 1) div den;
      // the quantile is the min delta with rt >= rank
      min(when(col("rt") * den >= col("n") * num, col("delta")))
        .as(name)
    scanned.agg(max(col("n")).as("n_converted"),
        q(1, 4, "p25_s"), q(1, 2, "p50_s"), q(3, 4, "p75_s"),
        q(9, 10, "p90_s"))
  }
}
