package graft.ops

import graft.Checkpoints
import graft.queries.QueryPack.{cents, r6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-flow analytics over a (user_id, ts, event_type) stream:
  * funnel completion, cohort retention, and the event-type transition
  * matrix — the product-analytics trio every event warehouse serves,
  * composed from the same hash-aggregate/window primitives as the
  * finance marts.
  */
object EventAnalytics {

  /** First-touch funnel: per user, the EARLIEST chain of `steps`
    * completed in order within `windowS` seconds of step 1 (classic
    * first-touch semantics: step 1 anchors at the user's first
    * occurrence; each later step at its first occurrence strictly
    * after the previous step and inside the window — greedy, not
    * maximal, exactly like the standard funnel tools).
    *
    * Scale shape: one user-keyed min-aggregate per step (k is small
    * and fixed), each joining the previous step frame — k narrow
    * hash joins on the user key over per-step FILTERED event subsets
    * (the type predicate pushes to the scan); no windows, no
    * per-user sort.
    *
    * @return (user_id, t_1..t_k epoch seconds nullable,
    *         n_steps int, completed bool)
    */
  def funnel(events: DataFrame, steps: Seq[String],
      windowS: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col("user_id"),
      unix_timestamp(col("ts")).as("t"), col("event_type"))
    val s1 = ev.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("t")).as("t_1"))
    val chain = steps.zipWithIndex.tail.foldLeft(s1) {
      case (prev, (step, i)) =>
        val nxt = ev.where(col("event_type") === step)
          .join(prev, "user_id")
          .where(col("t") > col(s"t_$i") &&
            col("t") <= col("t_1") + windowS)
          .groupBy(col("user_id")).agg(min(col("t")).as(s"t_${i + 1}"))
          .select(col("user_id"), col(s"t_${i + 1}"))
        prev.join(nxt, Seq("user_id"), "left_outer")
    }
    val ts = steps.indices.map(i => col(s"t_${i + 1}"))
    chain.select(col("user_id") +: ts :+
      ts.map(c => when(c.isNotNull, 1).otherwise(0))
        .reduce(_ + _).cast("int").as("n_steps") :+
      ts.last.isNotNull.as("completed"): _*)
  }

  /** Cohort retention matrix: users cohorted by FIRST-ACTIVITY day;
    * each (cohort_day, offset) cell counts distinct users active
    * `offset` days after their cohort day (offset 0 = cohort size).
    * Two bounded aggregates — (user, day) activity, then the matrix —
    * output is days² cells however large the stream.
    */
  def retention(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("dt"))
      .distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("dt")).as("cohort_day"))
    activity.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("dt"), col("cohort_day")).as("offset_day"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort lifetime-value curves — the REVENUE sibling of
    * [[retention]]'s activity matrix: users cohorted by first-activity
    * day, purchase value accumulated by day offset, emitted as
    * cumulative LTV per cohort member. The "when does a cohort pay
    * back" readout every growth team reads next to retention.
    *
    * Determinism: purchase values exact cents (DECIMAL sums), cohort
    * sizes exact counts; the cumulative ride a per-cohort window over
    * the bounded (cohort × offsets) frame; LTV-per-user one division
    * at the edge.
    *
    * Scale shape: one distinct-activity pass (the retention plan), a
    * broadcast-joinable cohort map, one (cohort, offset) groupBy; the
    * cumulative window partitions by cohort_day — bounded frames.
    *
    * @return (cohort_day, offset_day, cohort_size, rev, cum_rev,
    *         ltv_per_user)
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val ev = events.where(col("user_id").isNotNull && col("ts").isNotNull)
    val cohort = ev.select(col("user_id"), to_date(col("ts")).as("dt"))
      .groupBy(col("user_id")).agg(min(col("dt")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    val rev = ev.where(col("event_type") === "purchase" &&
        col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("dt"),
        cents(col("value")).as("v"))
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("dt"), col("cohort_day")).as("offset_day"))
      .agg(sum(col("v").cast("decimal(38,0)")).as("rev_c"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("offset_day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.join(sizes, "cohort_day")
      .withColumn("cum_c", sum(col("rev_c")).over(w))
      .select(col("cohort_day"), col("offset_day"), col("cohort_size"),
        round(col("rev_c").cast("double") / lit(100.0), 2)
          .cast("float").as("rev"),
        round(col("cum_c").cast("double") / lit(100.0), 2)
          .cast("float").as("cum_rev"),
        // cum/(100·size) lands on exact half-points — integer half-up
        (expr("(2 * cast(cum_c as bigint) * 100 + cohort_size)" +
          " div (2 * cohort_size)").cast("double") / lit(1e4))
          .cast("float").as("ltv_per_user"))
  }

  /** Funnel DROP-OFF table at SESSION granularity — the conversion
    * report product analytics actually ships: sessionize (gap rule),
    * run the in-order step chain WITHIN each session (the session is
    * the window), and emit one row per step with the count of sessions
    * reaching it and the conversion fraction vs the previous step.
    * Fractions are ratios of exact counts — cross-engine exact after
    * rounding.
    *
    * Scale shape: one user-keyed exchange for the session window, then
    * k (session-keyed) min-agg joins as in [[funnel]]; the drop-off
    * aggregate is k 1-row counts unioned.
    */
  def funnelDropoff(events: DataFrame, steps: Seq[String],
      gapSeconds: Long = 21600L): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val prev = lag(col("t"), 1).over(w)
    val sess = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
        col("event_id"), col("event_type"))
      .withColumn("sid", sum(
        when(prev.isNull || col("t") - prev > gapSeconds, 1L)
          .otherwise(0L)).over(w))
    val keys = Seq(col("user_id"), col("sid"))
    val s1 = sess.where(col("event_type") === steps.head)
      .groupBy(keys: _*).agg(min(col("t")).as("t_1"))
    val chain = steps.zipWithIndex.tail.foldLeft(s1) {
      case (acc, (step, i)) =>
        val nxt = sess.where(col("event_type") === step)
          .join(acc, Seq("user_id", "sid"))
          .where(col("t") > col(s"t_$i"))
          .groupBy(keys: _*).agg(min(col("t")).as(s"t_${i + 1}"))
          .select(col("user_id"), col("sid"), col(s"t_${i + 1}"))
        acc.join(nxt, Seq("user_id", "sid"), "left_outer")
    }
    // chain feeds |steps| count aggregates — materialize once
    val done = Checkpoints(chain)
    val counts = steps.indices.map { i =>
      done.agg(count(col(s"t_${i + 1}")).as("n_sessions"))
        .select(lit(i + 1).as("step"), lit(steps(i)).as("step_name"),
          col("n_sessions"))
    }.reduce(_ unionByName _)
    val lw = Window.orderBy(col("step"))
    // an empty previous step would fault ANSI division — NULL instead
    val prevN = lag(col("n_sessions"), 1).over(lw)
    counts.withColumn("frac_of_prev",
      when(prevN =!= 0,
        round(col("n_sessions").cast("double") / prevN, 4)).cast("float"))
  }

  /** Market-basket association rules over (basket, item) facts: for
    * each directed item pair with co-occurrence ≥ `minCount`, the
    * classic support / confidence / lift triple. Every statistic is a
    * ratio of exact basket counts — cross-engine exact after
    * rounding.
    *
    * Scale shape: the pair count is the [[graft.graph.Triangles]]
    * edge derivation (per-basket self-join, fan-out bounded by basket
    * width²); item counts and the basket total are bounded
    * aggregates broadcast into the rule projection. The `minCount`
    * filter applies to the pair AGGREGATE, after map-side partials —
    * no unfiltered pair list materializes.
    */
  def basketRules(facts: DataFrame, basketCol: String, itemCol: String,
      minCount: Long = 3L): DataFrame = {
    val b = facts.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct()
      .transform(Checkpoints(_)) // pair join ×2 + item counts + total
    // basket total as a broadcast 1-row frame (the q07 scalar shape —
    // no driver-side count action)
    val nB = b.select(col("bk")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemCnt = b.groupBy(col("it")).agg(count(lit(1)).as("cnt"))
    val co = b.as("x").join(b.as("y"),
        col("x.bk") === col("y.bk") && col("x.it") =!= col("y.it"))
      .groupBy(col("x.it").as("ante"), col("y.it").as("cons"))
      .agg(count(lit(1)).as("n_co"))
      .where(col("n_co") >= minCount)
    co.join(itemCnt.select(col("it").as("ante"), col("cnt").as("n_a")), "ante")
      .join(itemCnt.select(col("it").as("cons"), col("cnt").as("n_c")), "cons")
      .crossJoin(broadcast(nB))
      .select(col("ante"), col("cons"), col("n_co"),
        round(col("n_co").cast("double") / col("n_baskets"), 4)
          .cast("float").as("support"),
        round(col("n_co").cast("double") / col("n_a"), 4).cast("float")
          .as("confidence"),
        round(col("n_co").cast("double") * col("n_baskets") /
          (col("n_a") * col("n_c")), 4).cast("float").as("lift"))
  }

  /** Rolling `windowDays`-day distinct active users per day (the
    * DAU/WAU/MAU curve at windowDays = 1/7/30): each (user, day)
    * activity fact contributes to the `windowDays` report days whose
    * trailing window contains it — a bounded windowDays× explode of
    * the already-distinct activity frame, then one distinct-count per
    * day. Exact; at extreme scale swap the per-day distinct for the
    * mergeable KMV sketch ([[graft.functions.BottomKByHash]], the
    * q127/q150 path) and union day sketches instead of exploding.
    * Report days past the last observed activity are clipped.
    */
  def rollingActives(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val act = events
      .select(col("user_id"), to_date(col("ts")).as("dt"))
      .distinct()
    val spread = act.select(col("user_id"),
      explode(sequence(col("dt"), date_add(col("dt"), windowDays - 1)))
        .as("day"))
    val bounds = act.agg(max(col("dt")).as("mx"))
    spread.crossJoin(broadcast(bounds)).where(col("day") <= col("mx"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("active_users"))
  }

  /** First-order Markov transition matrix of event types per user:
    * consecutive-event bigrams (user-local, ts-then-event_id ordered)
    * counted and row-normalized. Output is |types|² rows at any
    * stream size; the probability is an exact-integer ratio rounded
    * at the edge.
    * @return (from_type, to_type, n, p)
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bi = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val counts = bi.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_n"))
    counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_n"), 4)
          .cast("float").as("p"))
  }

  /** Daily NEW vs RETURNING active users + the cumulative acquisition
    * curve — the growth-accounting view beside [[retention]]'s cohort
    * matrix: n_active distinct users per day, split by whether the day
    * is the user's FIRST activity day, and the running total of
    * acquired users.
    *
    * Scale shape: the (user, day) distinct frame and the per-user min
    * are map-side-combined aggregates; the daily split is a broadcast
    * join of the (bounded, calendar-sized) first-day counts onto the
    * daily actives; the cumulative curve rides the distributed global
    * scan over the daily frame. No window ever sees user-sized data.
    *
    * @return (day, n_active, n_new, n_returning, cum_users)
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val act = events
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .transform(Checkpoints(_)) // feeds actives AND first-day sides
    val daily = act.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"))
    val firstDay = act.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val joined = daily
      .join(broadcast(firstDay), Seq("day"), "left_outer")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
    Scan.globalRunningSum(joined, Seq("day"), col("n_new"), "cum_users")
  }

  /** Top-k most frequent SESSION PATHS (the clickstream "what do
    * users actually do" report): sessions by the gap rule (a new
    * session after `gapS` seconds of user inactivity — the
    * [[graft.queries.Analytics]] q18 rule), each session's ordered
    * event-type sequence joined into a `>`-delimited path string,
    * paths counted and the top k taken globally.
    *
    * Path assembly rides the SAME (user, ts, event_id) sort as the
    * session window (one exchange for sid + collect); the path count
    * is a map-side-combined groupBy on the path string; the global
    * top-k is a TakeOrdered (per-partition heaps + a k-row driver
    * merge — no global sort shuffle), totally ordered by
    * (n desc, path) so the k-th place is deterministic.
    *
    * @return exactly k rows (path, n_sessions)
    */
  def topPaths(events: DataFrame, gapS: Long, k: Int): DataFrame = {
    val ev = events.select(col("user_id"),
      col("ts").cast("long").as("ts_s"), col("event_id"),
      col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val prev = lag(col("ts_s"), 1).over(w)
    val isNew = when(prev.isNull || col("ts_s") - prev > gapS, 1L)
      .otherwise(0L)
    ev.withColumn("sid", sum(isNew).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(array_join(
        sort_array(collect_list(struct(col("ts_s"), col("event_id"),
          col("event_type")))).getField("event_type"), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Bounded sequential-pattern mining (the GSP/PrefixSpan family,
    * Srikant & Agrawal 1996): support counts for ordered length-3
    * event-type sequences across sessions — "signup → view →
    * purchase happens in N sessions" — the sequence-mining report
    * beside [[topPaths]]' exact-path counts and [[transitions]]'
    * first-order matrix.
    *
    * Contract: sessions by the gap rule ([[graft.queries.Analytics]]
    * q18); each session abstracts to its DISTINCT event types in
    * first-occurrence order (the standard "item appears once per
    * sequence" reduction — it bounds the per-session pattern count by
    * C(|types|, 3) instead of C(length, 3)); a pattern (t1, t2, t3)
    * is supported by a session iff the three types occur in that
    * relative order. Support ≥ `minSupport`, top-`k` under the total
    * order (n desc, t1, t2, t3).
    *
    * Scale shape: the distinct-type reduction is a session-keyed
    * aggregate riding the session window's own shuffle; the triple
    * enumeration is two self-equi-joins on the session key with
    * rank inequalities as residuals — per-session fan-out ≤
    * C(|type domain|, 3), a constant; the support count is map-side
    * combined and the top-k is a TakeOrdered, never a global sort.
    *
    * @return ≤ k rows (t1, t2, t3, n_sessions)
    */
  def seqPatterns(events: DataFrame, gapS: Long = 21600L,
      minSupport: Long = 2L, k: Int = 50): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val prev = lag(col("t"), 1).over(w)
    val sess = events
      .select(col("user_id"), col("ts").cast("long").as("t"),
        col("event_id"), col("event_type"))
      .withColumn("sid", sum(
        when(prev.isNull || col("t") - prev > gapS, 1L).otherwise(0L))
        .over(w))
    val firsts = sess
      .groupBy(col("user_id"), col("sid"), col("event_type"))
      .agg(min(struct(col("t"), col("event_id"))).as("f"))
    val rw = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("f.t"), col("f.event_id"))
    // ≤ |type domain| rows per session enter the rank window
    val ranked = firsts.withColumn("rk", row_number().over(rw))
      .select(col("user_id"), col("sid"), col("event_type"), col("rk"))
      .transform(Checkpoints(_)) // fans into the 3-way self-join
    def leg(i: Int) = ranked.select(col("user_id"), col("sid"),
      col("event_type").as(s"t$i"), col("rk").as(s"r$i"))
    leg(1)
      .join(leg(2), Seq("user_id", "sid")).where(col("r2") > col("r1"))
      .join(leg(3), Seq("user_id", "sid")).where(col("r3") > col("r2"))
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_sessions"))
      .where(col("n_sessions") >= minSupport)
      .orderBy(col("n_sessions").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** Multi-touch attribution over the four classic models at once —
    * first-touch, last-touch, linear, and position-based/U-shaped
    * (40/20/40) — the marketing-analytics allocation of conversion
    * credit across the touchpoint channels that preceded it.
    *
    * Contract: a conversion is each `convType` event; its touchpoints
    * are the same user's non-conversion events with
    * `ct − lookbackS ≤ t < ct`, ordered by (t, event_id). Credit is
    * EXACT INTEGER basis points (10000 per converted conversion):
    * linear gives each touch `10000 div n` with the remainder to the
    * last touch; U-shaped gives 40%/40% to first/last, the middle
    * 20% split `2000 div (n−2)` with the remainder to the last middle
    * touch (n = 1 → all 10000, n = 2 → 5000/5000). Every model sums
    * to exactly 10000 per conversion, so channel totals are
    * bit-exact — no float credit anywhere. Touchless conversions
    * attribute nothing (standard).
    *
    * Scale shape: the conversion×touch pairing is a user-keyed
    * equi-join with the lookback range as a residual predicate —
    * fan-out bounded per user by the window, never cross-user; pos
    * and n ride ONE conversion-keyed window sort; the channel report
    * is a map-side-combined groupBy, |channels| rows out.
    *
    * @return (channel, n_touches, n_conversions, first_fp, last_fp,
    *         linear_fp, ushape_fp)
    */
  def attribution(events: DataFrame, convType: String = "purchase",
      lookbackS: Long = 7L * 86400L): DataFrame = {
    val ev = events.select(col("user_id"),
      col("ts").cast("long").as("t"), col("event_id"), col("event_type"))
    val conv = ev.where(col("event_type") === convType)
      .select(col("user_id"), col("t").as("ct"),
        col("event_id").as("conv_id"))
    val touch = ev.where(col("event_type") =!= convType)
      .select(col("user_id"), col("t"), col("event_id"),
        col("event_type").as("channel"))
    val pairs = conv.join(touch, Seq("user_id"))
      .where(col("t") < col("ct") && col("t") >= col("ct") - lookbackS)
    val wOrd = Window.partitionBy(col("conv_id"))
      .orderBy(col("t"), col("event_id"))
    val wAll = Window.partitionBy(col("conv_id"))
    val ranked = pairs
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("nt", count(lit(1)).over(wAll))
    val first = when(col("pos") === 1, lit(10000L)).otherwise(lit(0L))
    val last = when(col("pos") === col("nt"), lit(10000L))
      .otherwise(lit(0L))
    val linear = expr("10000 div nt") +
      when(col("pos") === col("nt"), expr("10000 % nt")).otherwise(lit(0L))
    val ushape = when(col("nt") === 1, lit(10000L))
      .when(col("nt") === 2, lit(5000L))
      .when(col("pos") === 1 || col("pos") === col("nt"), lit(4000L))
      .otherwise(expr("2000 div (nt - 2)") +
        when(col("pos") === col("nt") - 1, expr("2000 % (nt - 2)"))
          .otherwise(lit(0L)))
    ranked
      .select(col("channel"), col("conv_id"), first.as("ffp"),
        last.as("lfp"), linear.as("linfp"), ushape.as("ufp"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        count_distinct(col("conv_id")).as("n_conversions"),
        sum(col("ffp")).as("first_fp"), sum(col("lfp")).as("last_fp"),
        sum(col("linfp")).as("linear_fp"), sum(col("ufp")).as("ushape_fp"))
  }

  /** TIME-DECAY multi-touch attribution — the recency-weighted member
    * completing [[attribution]]'s first/last/linear/U-shaped set (the
    * standard five-model lineup of marketing-attribution platforms):
    * each touch earns weight 2^(−⌊Δ/86400⌋) — a one-day half-life —
    * and a conversion's 10 000 basis points split proportionally.
    *
    * The decay is PURE INTEGER: w = 10⁶ / 2^days is exact for the
    * 7-day lookback (10⁶ = 2⁶·5⁶·… so every halving down to 15 625
    * divides evenly), inlined as a 7-branch CASE of literals in both
    * engines — zero libm, zero floats anywhere. The lookback window
    * is half-open (ct − lookback, ct): day indices run exactly 0..6,
    * so every branch of the CASE is a true halving (2⁻⁷ would be the
    * non-integer 7 812.5). Credit is
    * (10⁴·w) div Σw with the integer remainder assigned to the
    * MOST-RECENT touch (the model's own bias direction), so every
    * conversion's credits sum to exactly 10 000 ([[attribution]]'s
    * contract).
    *
    * Scale shape: [[attribution]]'s — the conv⋈touch pair join keyed
    * on user_id, windows keyed per conv_id (never global), one
    * channel groupBy out.
    *
    * @return (channel, n_touches, n_conversions, decay_fp)
    */
  def attributionDecay(events: DataFrame,
      convType: String = "purchase",
      lookbackS: Long = 7L * 86400L): DataFrame = {
    val ev = events.select(col("user_id"),
      col("ts").cast("long").as("t"), col("event_id"), col("event_type"))
    val conv = ev.where(col("event_type") === convType)
      .select(col("user_id"), col("t").as("ct"),
        col("event_id").as("conv_id"))
    val touch = ev.where(col("event_type") =!= convType)
      .select(col("user_id"), col("t"), col("event_id"),
        col("event_type").as("channel"))
    val pairs = conv.join(touch, Seq("user_id"))
      .where(col("t") < col("ct") && col("t") > col("ct") - lookbackS)
    val dd = expr("(ct - t) div 86400")
    val w6 = when(dd === 0, 1000000L).when(dd === 1, 500000L)
      .when(dd === 2, 250000L).when(dd === 3, 125000L)
      .when(dd === 4, 62500L).when(dd === 5, 31250L)
      .otherwise(15625L)
    val wOrd = Window.partitionBy(col("conv_id"))
      .orderBy(col("t"), col("event_id"))
    val wAll = Window.partitionBy(col("conv_id"))
    val ranked = pairs
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("nt", count(lit(1)).over(wAll))
      .withColumn("w6", w6)
      .withColumn("sw", sum(col("w6")).over(wAll))
      .withColumn("base", expr("(10000 * w6) div sw"))
      .withColumn("sbase", sum(col("base")).over(wAll))
    val fp = col("base") + when(col("pos") === col("nt"),
      lit(10000L) - col("sbase")).otherwise(lit(0L))
    ranked
      .select(col("channel"), col("conv_id"), fp.as("dfp"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        count_distinct(col("conv_id")).as("n_conversions"),
        sum(col("dfp")).as("decay_fp"))
  }

  /** Goh–Barabási burstiness per user — B = (σ − μ)/(σ + μ) of the
    * inter-event gaps, in [−1, 1]: −1 = metronome (bot cadence),
    * 0 = Poisson, → 1 = bursty human. The behavioral-forensics signal
    * scripted traffic can't fake cheaply.
    *
    * Determinism: gaps are exact integer seconds off one user-keyed
    * window pass; n/Σg/Σg² are exact long sums; μ, population σ and B
    * are one fixed IEEE sequence over their single double
    * conversions, with the variance guarded `> 0` (a constant-gap
    * user reads σ = 0 → B = −1 exactly) and the shared floor
    * rounding at the edge.
    *
    * Scale shape: one shuffle on user_id (the window), one map-side-
    * combined groupBy riding the same partitioning; |users| rows out.
    *
    * @return (id, n_gaps, mean_gap_s, burstiness) for users with
    *         ≥ `minGaps` gaps
    */
  def burstiness(events: DataFrame, minGaps: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("t"), col("event_id"))
    val g = events
      .select(col("user_id").as("id"), col("ts").cast("long").as("t"),
        col("event_id"))
      .withColumn("g", col("t") - lag(col("t"), 1).over(w))
      .where(col("g").isNotNull)
    val agg = g.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sg2"))
      .where(col("n") >= minGaps)
    val nD = col("n").cast("double")
    val mu = col("sg").cast("double") / nD
    val vr = col("sg2").cast("double") / nD - mu * mu
    val sg = when(vr > 0, sqrt(vr)).otherwise(lit(0d))
    agg.select(col("id"), col("n").cast("int").as("n_gaps"),
      r6(mu).as("mean_gap_s"),
      // all-zero-gap user (>= minGaps events inside one epoch second)
      // has mu = sg = 0 — NULL, not an ANSI 0/0 fault
      when(mu > 0, r6((sg - mu) / (sg + mu))).as("burstiness"))
  }
}
