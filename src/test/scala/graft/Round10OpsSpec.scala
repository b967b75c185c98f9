package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-solved ground-truth checks for the round-10 operators
  * (attribution, sequence patterns, survival, calibration, blocking,
  * bootstrap, encoding, conformal, trend and CUPED statistics).
  */
class Round10OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("attribution: hand-solved 3-touch credit split with remainders") {
    import spark.implicits._
    // user 1: click@10, view@20, click@30 → purchase@50 (one conv);
    // user 2: touchless purchase; user 3: touch outside the 7-day
    // lookback. Linear 10000//3 = 3333 rem 1 → last; U = 4000/2000/4000.
    val ev = Seq(
      (1L, 10L, 101L, "click"), (1L, 20L, 102L, "view"),
      (1L, 30L, 103L, "click"), (1L, 50L, 104L, "purchase"),
      (2L, 5L, 201L, "purchase"),
      (3L, 1000L, 301L, "click"),
      (3L, 1000L + 604801L, 302L, "purchase"))
      .toDF("user_id", "t", "event_id", "event_type")
      .withColumn("ts", col("t").cast("timestamp")).drop("t")
    val got = ops.EventAnalytics.attribution(ev).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(got == Map(
      "click" -> (2L, 1L, 10000L, 10000L, 6667L, 8000L),
      "view" -> (1L, 1L, 0L, 0L, 3333L, 2000L)))
  }

  test("attribution: every model sums to 10000 per conversion") {
    import spark.implicits._
    val ev = (1 to 40).map { i =>
      (i.toLong % 5, i.toLong * 100, i.toLong,
        if (i % 7 == 0) "purchase" else s"ch${i % 3}")
    }.toDF("user_id", "t", "event_id", "event_type")
      .withColumn("ts", col("t").cast("timestamp")).drop("t")
    val tot = ops.EventAnalytics.attribution(ev)
      .agg(sum("n_conversions"), sum("first_fp"), sum("last_fp"),
        sum("linear_fp"), sum("ushape_fp")).collect()(0)
    // n_conversions double-counts convs across channels; recompute
    // the attributed-conversion count directly for the invariant
    val nConv = ops.EventAnalytics.attribution(ev)
      .agg(sum(col("first_fp"))).collect()(0).getLong(0) / 10000L
    for (i <- 2 to 4)
      assert(tot.getLong(i) == nConv * 10000L, s"model col $i leaks credit")
  }

  test("seqPatterns: first-occurrence order, support threshold") {
    import spark.implicits._
    // three single-session users: two share signup→view→purchase
    // (one with a repeated view that must NOT double-count), one has
    // view→signup→purchase — below minSupport = 2.
    val ev = Seq(
      (1L, 10L, 1L, "signup"), (1L, 20L, 2L, "view"),
      (1L, 30L, 3L, "purchase"), (1L, 40L, 4L, "view"),
      (2L, 10L, 5L, "view"), (2L, 20L, 6L, "signup"),
      (2L, 30L, 7L, "purchase"),
      (3L, 10L, 8L, "signup"), (3L, 20L, 9L, "view"),
      (3L, 30L, 10L, "purchase"))
      .toDF("user_id", "t", "event_id", "event_type")
      .withColumn("ts", col("t").cast("timestamp")).drop("t")
    val got = ops.EventAnalytics.seqPatterns(ev, gapS = 21600L,
        minSupport = 2L, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(got == Map(("signup", "view", "purchase") -> 2L))
  }

  test("kaplanMeier: textbook curve with censoring and a zero tail") {
    import spark.implicits._
    // (dur, event): censored subjects shrink the risk set without
    // moving S; the final d = n row collapses S to exactly 0.
    val subj = Seq((1L, 1), (2L, 0), (3L, 1), (3L, 1), (4L, 0),
      (5L, 1)).toDF("dur", "ev")
    val got = ops.Stats.kaplanMeier(subj, "dur", "ev").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getFloat(4)))
      .toMap
    def near(a: Float, b: Double) = math.abs(a - b) < 1e-6
    assert(got(1L)._1 == 6L && got(1L)._2 == 1L && near(got(1L)._4, 0.833333))
    assert(got(2L)._1 == 5L && got(2L)._3 == 1L && near(got(2L)._4, 0.833333))
    assert(got(3L)._1 == 4L && got(3L)._2 == 2L && near(got(3L)._4, 0.416667))
    assert(got(4L)._1 == 2L && near(got(4L)._4, 0.416667))
    assert(got(5L)._1 == 1L && got(5L)._4 == 0f, "d = n must pin S to 0")
  }

  test("calibration: hand-computed bins and ECE") {
    import spark.implicits._
    val df = Seq((0.05, false), (0.15, true), (0.18, false),
      (0.95, true), (0.99, true), (1.0, true)).toDF("score", "label")
    val got = ops.Stats.calibration(df, "score", "label", 10).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getFloat(3), r.getFloat(4), r.getFloat(5), r.getFloat(6)))
      .toMap
    def near(a: Float, b: Double) = math.abs(a - b) < 1e-6
    assert(got.keySet == Set(0, 1, 9), "score 1.0 must clamp to bin 9")
    assert(got(0) == (1L, 0L, 0.05f, 0f, 0.05f, got(0)._6))
    assert(got(1)._1 == 2L && got(1)._2 == 1L)
    assert(near(got(1)._3, 0.165) && near(got(1)._4, 0.5) &&
      near(got(1)._5, 0.335))
    assert(got(9)._1 == 3L && near(got(9)._3, 0.98) && got(9)._4 == 1f)
    // ECE = (1·0.05 + 2·0.335 + 3·0.02) / 6 = 0.13, same on all rows
    assert(got.values.forall(v => near(v._6, 0.13)))
  }

  test("sortedNeighborhood: window blocks, verifies, and excludes") {
    import spark.implicits._
    // three near-identical texts sort adjacently and pair; the "m"
    // text is similar to nothing nearby; window = 5 so the distant
    // "zz" near-dup of "aa..." (rank gap > 4) must NOT pair
    val docs = Seq(
      (1L, "aa quick brown fox jumps over the lazy dog"),
      (2L, "aa quick brown fox jumps over the lazy doge"),
      (3L, "ab quick brown fox jumps over the lazy dog"),
      (4L, "ba colorless green ideas sleep furiously"),
      (5L, "bb seventeen submarines hummed beneath ice"),
      (6L, "bc quarterly revenue grew nine percent"),
      (7L, "ca metal oxide semiconductors drift slowly"),
      (8L, "zz quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = llm.Dedup.sortedNeighborhoodPairs(docs, window = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) &&
      got.contains((2L, 3L)))
    assert(!got.exists(p => p._1 == 8L || p._2 == 8L),
      "rank-distant near-dup must stay outside the window")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("bootstrapMeanCI: deterministic, contains the estimate, full B") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, (i % 37).toDouble))
      .toDF("id", "v")
    def run(salt: String) = ops.Stats
      .bootstrapMeanCI(df, "v", "id", salt = salt).collect()(0)
    val a = run("boot")
    assert(a.getLong(0) == 500L && a.getInt(1) == 64)
    val (lo, est, hi) = (a.getFloat(3), a.getFloat(2), a.getFloat(4))
    assert(lo <= est && est <= hi && lo < hi)
    // seeded draws replay bit-identically; a new salt moves the CI
    assert(run("boot") == a)
    val b = run("boot2")
    assert(b.getFloat(3) != lo || b.getFloat(4) != hi)
  }

  test("targetEncoding: hand-computed out-of-fold smoothed means") {
    import spark.implicits._
    // global mean 17.50; A/0 → (20 + 175)/11, A/1 → (20·? see below),
    // B/0 has zero out-of-fold rows → exactly the prior mean
    val df = Seq(("A", 0, 10.0), ("A", 0, 10.0), ("A", 1, 20.0),
      ("B", 0, 30.0)).toDF("cat", "fold", "y")
    val got = ops.Stats.targetEncoding(df, "cat", "y", "fold")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getFloat(3))).toMap
    // float ulp at ~17.7 is ~2e-6 — tolerance must sit above it
    def near(a: Float, b: Double) = math.abs(a - b) < 1e-5
    assert(got.size == 3)
    assert(got(("A", 0))._1 == 1L &&
      near(got(("A", 0))._2, 195.0 / 11))   // (20 + 10·17.5) / (1+10)
    assert(got(("A", 1))._1 == 2L &&
      near(got(("A", 1))._2, 195.0 / 12))   // (20 + 175) / (2+10)
    assert(got(("B", 0))._1 == 0L && near(got(("B", 0))._2, 17.5))
  }

  test("conformalInterval: hand-solved μ, clamped k, q̂, coverage") {
    import spark.implicits._
    // train μ = 15.00; cal residuals {1.00, 2.00, 10.00} → k =
    // ⌈4·0.9⌉ = 4 clamps to n_cal = 3 → q̂ = 10.00; test: 16.00
    // covered, 30.00 not
    val df = Seq(("A", 10.0, 0), ("A", 20.0, 0),
      ("A", 14.0, 1), ("A", 17.0, 1), ("A", 25.0, 1),
      ("A", 16.0, 2), ("A", 30.0, 2)).toDF("g", "y", "sp")
    val r = ops.Stats.conformalInterval(df, "g", "y", "sp").collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(1) == 1500L)         // mu_cents
    assert(row.getLong(2) == 3L && row.getLong(3) == 4L)
    assert(row.getLong(4) == 1000L)         // qhat_cents
    assert(row.getLong(5) == 2L && row.getLong(6) == 1L)
    assert(math.abs(row.getFloat(7) - 0.5f) < 1e-6)
  }

  test("theilSen: the outlier day cannot drag the median slope") {
    import spark.implicits._
    // (0,1.00) (1,2.00) (2,3.00) (3,10.00): five of six pairwise
    // slopes say 100 c/x or more, median = 100; OLS would say ~270.
    val df = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 10.0))
      .toDF("xd", "v")
    val r = ops.Stats.theilSen(df, "xd", "v").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L)
    assert(r.getFloat(2) == 100f, "slope")
    assert(r.getFloat(3) == 100f, "intercept = median residual")
  }

  test("mannKendall: monotone series z, constant series NULL") {
    import spark.implicits._
    val up = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 10.0))
      .toDF("xd", "v")
    val r = ops.Stats.mannKendall(up, "xd", "v").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L)
    assert(r.getLong(2) == 4L * 3L * 13L)
    val expZ = (math.floor((6.0 - 1.0) / math.sqrt(156.0 / 18.0)
      * 1e6 + 0.5) / 1e6).toFloat
    assert(r.getFloat(3) == expZ)
    // constant series: every pair ties → Var = 0 → z NULL, no fault
    val flat = Seq((0L, 5.0), (1L, 5.0), (2L, 5.0)).toDF("xd", "v")
    val f = ops.Stats.mannKendall(flat, "xd", "v").collect()(0)
    assert(f.getLong(1) == 0L && f.getLong(2) == 0L && f.isNullAt(3))
  }

  test("isotonicCalibration: pools violators, bridges empty bins") {
    import spark.implicits._
    // bins 0 (1/2), 1 (0/2), 9 (1/1): 0–1 violate → pool to 1/4;
    // bin 9 stays above
    val df = Seq((0.01, true), (0.05, false), (0.11, false),
      (0.15, false), (0.99, true)).toDF("score", "label")
    val got = ops.Stats.isotonicCalibration(df, "score", "label")
      .collect().map(r => r.getInt(0) -> r.getFloat(3)).toMap
    assert(got == Map(0 -> 0.25f, 1 -> 0.25f, 9 -> 1.0f))
    // a violation ACROSS an empty-bin gap must still pool (blocks
    // chain on present-bin rank, not bin id)
    val gap = Seq((0.01, true), (0.99, false)).toDF("score", "label")
    val g = ops.Stats.isotonicCalibration(gap, "score", "label")
      .collect().map(r => r.getInt(0) -> r.getFloat(3)).toMap
    assert(g == Map(0 -> 0.5f, 9 -> 0.5f))
  }

  test("cuped: perfect covariate removes all variance; constant guard") {
    import spark.implicits._
    val perfect = Seq((0L, 0L), (10L, 10L), (20L, 20L)).toDF("x", "y")
    val r = ops.Stats.cuped(perfect, "x", "y").collect()(0)
    def near(a: Float, b: Double) = math.abs(a - b) < 1e-4
    assert(r.getLong(0) == 3L)
    assert(near(r.getFloat(1), 1.0))        // theta
    assert(near(r.getFloat(2), 500.0 / 3 - 100))  // var_y = 66.667
    assert(near(r.getFloat(3), 0.0), "perfect covariate → var_adj 0")
    assert(near(r.getFloat(4), 100.0))
    // constant covariate: θ undefined, variance unadjusted, 0 gain
    val flat = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("x", "y")
    val f = ops.Stats.cuped(flat, "x", "y").collect()(0)
    assert(f.isNullAt(1) && f.getFloat(3) == f.getFloat(2) &&
      f.getFloat(4) == 0f)
  }
}
