package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 edge and ground-truth cases: the q290 SRM empty-frame
  * guard and hand-solved fixtures for the round's new operators.
  */
class Round12OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q290 srm: empty events frame yields NULL chi2, no ANSI fault") {
    // an events fixture with ZERO rows (or all-NULL user_id) makes
    // n = 0; the chi2 division must short-circuit to NULL instead of
    // faulting ANSI divide-by-zero (r11 verdict item #2)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val dir = TestSpark.tmp("graft_r12_srm")
    empty.write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q290_srm")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(r.fieldIndex("n_units")) == 0L)
    assert(r.isNullAt(r.fieldIndex("chi2")))
    assert(r.isNullAt(r.fieldIndex("srm_flag")))
  }

  test("triangle bundle: q172/q183 compositions match the direct API") {
    import spark.implicits._
    // two triangles sharing edge 2-3 plus a pendant: hand-solved
    // n_tri = (1:1, 2:2, 3:2, 4:1, 5:0); coef(2) = 2*2/(3*2) = 0.6667
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("a", "b")
    val (deg, cnt) = graft.graph.Triangles.perNodeBundle(edges)
    val per = graft.graph.Triangles.perNodeFromBundle(deg, cnt)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    val coef = graft.graph.Triangles.clusteringCoefFromBundle(deg, cnt)
      .collect().map(r => r.getLong(0) -> r.getFloat(3)).toMap
    assert(coef(2L) == 0.6667f && coef(5L) == 0.0f)
    // and the bundle path is the direct path, value for value
    val direct = graft.graph.Triangles.perNode(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct == per)
  }

  test("tCloseness: hand-computed EMD over a three-value domain") {
    import spark.implicits._
    // global: values 1/2/3 three times each (q = 1/3 each, m = 3);
    // class A = (1,1,2): cum diffs 1/3, 1/3, 0 → EMD = (2/3)/2 = 1/3;
    // class B mirrors A; class C = (1,2,3) matches global → EMD 0
    val df = Seq(
      ("A", 1), ("A", 1), ("A", 2),
      ("B", 2), ("B", 3), ("B", 3),
      ("C", 1), ("C", 2), ("C", 3)).toDF("grp", "sv")
    val got = graft.quality.DataQuality
      .tCloseness(df, Seq("grp"), "sv", t = 0.2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getFloat(2), r.getBoolean(3))).toMap
    assert(got("A") == (3L, 0.333333f, false))
    assert(got("B") == (3L, 0.333333f, false))
    assert(got("C") == (3L, 0.0f, true))
  }

  test("msprt: hand-computed two-arm two-day fixture, monotone p") {
    import spark.implicits._
    // day 1: arm0 {1.0, 3.0}, arm1 {2.0, 6.0}; day 2: arm0 {2.0},
    // arm1 {8.0} — at 1e4 scaling
    val obs = Seq(
      (1L, 0L, 10000L), (1L, 0L, 30000L),
      (1L, 1L, 20000L), (1L, 1L, 60000L),
      (2L, 0L, 20000L), (2L, 1L, 80000L)).toDF("day", "arm", "v4")
    // scalar re-derivation in the engine's exact IEEE order
    def llrOf(n0: Long, n1: Long, s0: Double, s1: Double,
        q0: Double, q1: Double): (Double, Double) = {
      val diff = (s1 / n1 - s0 / n0) / 1e4
      val vp = ((q0 - s0 * s0 / n0) + (q1 - s1 * s1 / n1)) /
        (n0 + n1) / 1e8
      val vn = vp * (n0.toDouble + n1) / (n0.toDouble * n1)
      val llr = 0.5 * math.log(vn / (vn + 1.0)) +
        (1.0 * diff * diff) / (2.0 * vn * (vn + 1.0))
      (diff, llr)
    }
    val (d1, l1) = llrOf(2, 2, 4e4, 8e4, 1e9, 4e9)
    val (d2, l2) = llrOf(3, 3, 6e4, 16e4, 1.4e9, 1.04e10)
    val p1 = math.min(1.0, math.exp(-l1))
    val p2 = math.min(p1, math.min(1.0, math.exp(-l2)))
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    val got = graft.ops.Stats.msprt(obs, "day", "arm", "v4", unit = 1e4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getFloat(3), r.getFloat(4),
          r.getFloat(5), r.getBoolean(6))).toMap
    assert(got(1L) == (2L, 2L, r6(d1), r6(l1), r6(p1), p1 <= 0.05))
    assert(got(2L) == (3L, 3L, r6(d2), r6(l2), r6(p2), p2 <= 0.05))
    assert(p2 <= p1) // always-valid p never rises
  }

  test("lmScoreKn3: hand-computed three-sentence corpus") {
    import spark.implicits._
    // corpus: "a b c" / "a b c d" / "x y"
    // trigram counts: (a,b,c)=2, (b,c,d)=1
    //   ctx (a,b): cuv=2, t12=1; (b,c): cuv=1, t12=1
    //   cont (b,c)=1, (c,d)=1; mid b=1, c=1
    // distinct bigram types {(a,b),(b,c),(c,d),(x,y)} → tot=4,
    //   t1(b)=1, t1(c)=1, ncw(c)=1, ncw(d)=1
    // P2(c|b) = max(1−.75,0)/1 + (.75·1/1)·(1/4) = 0.4375
    // P3(c|a,b) = max(2−.75,0)/2 + (.75·1/2)·0.4375 = 0.7890625
    // P2(d|c)  = 0.25 + .75·(1/4) = 0.4375
    // P3(d|b,c) = max(1−.75,0)/1 + (.75·1/1)·0.4375 = 0.578125
    val lp1 = math.log(0.7890625)
    val lp2 = math.log(0.578125)
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    val docs = Seq((1L, "a b c"), (2L, "a b c d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextOps.lmScoreKn3(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(got(1L) == (1, Some(r4(lp1))))
    assert(got(2L) == (2, Some(r4((lp1 + lp2) / 2))))
    assert(got(3L) == (0, None)) // < 3 tokens: zero trigrams, NULL
  }

  test("deltaRatio: hand-computed two-arm user-level fixture") {
    import spark.implicits._
    // arm 0: user 10 (v4 sums 30000, n=2), user 12 (30000, n=1)
    //   → R0 = 60000/3/1e4 = 2.0; varY=0, cov=0, varN=0.25,
    //     VarR0 = (4·0.25)/(2·2.25) = 0.2222…
    // arm 1: user 11 (60000, n=3), user 13 (40000, n=1)
    //   → R1 = 2.5; varY=1, cov=1, varN=1,
    //     VarR1 = (1 − 5 + 6.25)/(2·4) = 0.28125
    // se = √0.5034722… ≈ 0.7095578, z = 0.5/se ≈ 0.7046627
    val obs = Seq(
      (10L, 0, 10000L), (10L, 0, 20000L), (12L, 0, 30000L),
      (11L, 1, 20000L), (11L, 1, 20000L), (11L, 1, 20000L),
      (13L, 1, 40000L)).toDF("uid", "arm", "v4")
    val r = graft.ops.Stats.deltaRatio(obs, "uid", "arm", "v4",
      unit = 1e4).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getFloat(2) == 2.0f && r.getFloat(3) == 2.5f)
    assert(r.getFloat(4) == 0.5f)
    assert(math.abs(r.getFloat(5) - 0.7095578) < 1e-5)
    assert(math.abs(r.getFloat(6) - 0.7046627) < 1e-5)
  }

  test("normTwoSidedP + bhFdr: A&S tail and the step-up fixture") {
    import spark.implicits._
    // A&S 26.2.17: two-sided p at z = 1.959964 is 0.05 to < 7.5e-8
    val p196 = Seq(1.959964).toDF("z")
      .select(graft.ops.Stats.normTwoSidedP(col("z")).as("p"))
      .collect()(0).getDouble(0)
    assert(math.abs(p196 - 0.05) < 1e-6)
    // step-up: p = [.01,.02,.03,.5], m = 4 → raw = [.04,.04,.04,.5],
    // tail-min adj = [.04,.04,.04,.5]; NULL p passes through
    val fam = Seq(("a", Some(0.01)), ("b", Some(0.02)),
      ("c", Some(0.03)), ("d", Some(0.5)), ("e", None))
      .toDF("k", "p")
    val got = graft.ops.Stats.bhFdr(fam, "k", "p", alpha = 0.1)
      .collect().map { r =>
        r.getString(0) -> (r.getLong(r.fieldIndex("m_tests")),
          if (r.isNullAt(r.fieldIndex("p_adj"))) None
          else Some(r.getFloat(r.fieldIndex("p_adj"))),
          if (r.isNullAt(r.fieldIndex("signif"))) None
          else Some(r.getBoolean(r.fieldIndex("signif"))))
      }.toMap
    assert(got("a") == ((4L, Some(0.04f), Some(true))))
    assert(got("b") == ((4L, Some(0.04f), Some(true))))
    assert(got("c") == ((4L, Some(0.04f), Some(true))))
    assert(got("d") == ((4L, Some(0.5f), Some(false))))
    assert(got("e") == ((4L, None, None)))
  }

  test("permutationTest: replay-identical, separated arms at min p") {
    import spark.implicits._
    // 10 units per arm, arm 1 shifted by +100 units: no re-draw of
    // 20 exchangeable units reproduces |Δ| = 100 except the observed
    // split or its complement (≈ 2⁻¹⁹ per replicate) → n_ge = 0 and
    // p = 1/65, the always-attainable floor at B = 64
    val obs = (0L until 20L).map(u =>
      (u, (u % 2).toInt, if (u % 2 == 1) 1000000L else 0L))
      .toDF("uid", "arm", "v4")
    val r = graft.ops.Stats.permutationTest(obs, "uid", "arm", "v4",
      unit = 1e4).collect()(0)
    assert(r.getLong(0) == 20L && r.getInt(1) == 64)
    assert(r.getFloat(2) == 100.0f)
    assert(r.getLong(3) == 0L)
    assert(math.abs(r.getFloat(4) - 1.0 / 65) < 1e-5)
    // common random numbers: a replay is value-for-value identical
    val again = graft.ops.Stats.permutationTest(obs, "uid", "arm",
      "v4", unit = 1e4).collect()(0)
    assert(r == again)
  }

  test("ewmaChart: mean-seeded recursion, tail shift flags ooc") {
    import spark.implicits._
    // 20 days at 10.00 then 10 at 11.00: μ = 10.3333…, σ ≈ 0.4714;
    // the EWMA drifts to ~10.0 then climbs — by day 30 it crosses
    // the time-varying UCL (a Shewhart chart never would: max x is
    // only 1.4σ above μ). Expected values from the same recursion.
    val xs = Seq.fill(20)(10.0) ++ Seq.fill(10)(11.0)
    val series = xs.zipWithIndex.map { case (v, i) => (i + 1, v) }
      .toDF("k", "v")
    val got = graft.ops.Stats.ewmaChart(series, "k", "v")
      .orderBy("k").collect()
    val mu = xs.sum / xs.length
    val zs = xs.scanLeft(mu)((z, x) => 0.2 * x + 0.8 * z).tail
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    got.zip(zs).foreach { case (row, z) =>
      assert(row.getFloat(row.fieldIndex("ewma")) == r6(z))
      assert(row.getFloat(row.fieldIndex("center")) == r6(mu))
    }
    val ooc = got.map(r => r.getInt(0) -> r.getBoolean(r.fieldIndex("ooc")))
      .toMap
    assert(!ooc(1) && !ooc(20))
    assert(ooc(30), "persistent +1 shift must trip the UCL by day 30")
  }

  test("qlTopK: hand-solved Dirichlet query-likelihood ranking") {
    import spark.implicits._
    // corpus: d1 "apple banana apple", d2 "apple cherry",
    // d3 "durian durian"; query {apple, banana}; μ = 100, |C| = 7
    val docs = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "durian durian")).toDF("doc_id", "text")
    val q = Seq((9L, "apple"), (9L, "banana")).toDF("query_id", "term")
    def sc(parts: Seq[(Long, Double)], nq: Int, dl: Int): Double = {
      val s1 = parts.map { case (tf, p) =>
        math.log(1.0 + tf / (100.0 * p)) }.sum
      math.round((s1 + nq * math.log(100.0 / (dl + 100))) * 1e4) / 1e4.toDouble
    }
    val exp1 = sc(Seq((2L, 3.0 / 7), (1L, 1.0 / 7)), 2, 3)
    val exp2 = sc(Seq((1L, 3.0 / 7)), 2, 2)
    val got = graft.llm.Retrieval.qlTopK(docs, q).orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3),
        r.getFloat(4)))
    // d3 shares no term → never a candidate; d1 outranks d2
    assert(got.toSeq == Seq((1, 1L, 2, exp1.toFloat),
      (2, 2L, 1, exp2.toFloat)))
  }

  test("powerMde: hand-solved four-user fixture") {
    import spark.implicits._
    // per-user metrics [10, 20, 30, 40], arm = uid % 2:
    // μ = 25, σ² = 125, MDE = 2.801585·√(125·1) and the 1%-effect
    // per-arm n from the same constants
    val obs = Seq((0L, 0, 10L), (1L, 1, 20L), (2L, 0, 30L),
      (3L, 1, 40L)).toDF("uid", "arm", "v4")
    val r = graft.ops.Stats.powerMde(obs, "uid", "arm", "v4",
      unit = 1.0).collect()(0)
    val kz = 1.959964 + 0.841621
    val mde = kz * math.sqrt(125.0 * (1.0 / 2 + 1.0 / 2))
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getFloat(2) == 25.0f)
    assert(r.getFloat(3) == r6(math.sqrt(125.0)))
    assert(r.getFloat(4) == r6(mde))
    assert(r.getFloat(5) == r6(mde / 25.0 * 100.0))
    assert(r.getLong(6) ==
      math.ceil(2.0 * (kz * kz) * 125.0 / (0.25 * 0.25)).toLong)
  }

  test("winsorizedDiff: exact p99 cap, hand-solved clamped means") {
    import spark.implicits._
    // values 1..100 once each, arm = v % 2: rank ⌈99·100/100⌉ = 99
    // → cap = 99, the lone 100 clamps; arm-0 evens mean becomes
    // (2+4+…+98+99)/50 = 50.98, arm-1 odds stay 50.0
    val obs = (1L to 100L).map(v => ((v % 2).toInt, v))
      .toDF("arm", "v4")
    val r = graft.ops.Stats.winsorizedDiff(obs, "arm", "v4",
      unit = 1.0).collect()(0)
    assert(r.getLong(0) == 50L && r.getLong(1) == 50L)
    assert(r.getFloat(2) == 99.0f)
    assert(r.getFloat(3) == 50.98f && r.getFloat(4) == 50.0f)
    assert(math.abs(r.getFloat(5) - (-0.98f)) < 1e-6)
  }

  test("assortativity: triangle + pendant hand-solved to -0.7143") {
    import spark.implicits._
    // deg(1)=3, deg(2)=deg(3)=2, deg(4)=1 → Pearson over the 8
    // directed endpoint-degree pairs = -20/28 = -0.714286 (hubs
    // attach to leaves → disassortative)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val r = graft.graph.Assortativity.degreeCorrelation(edges)
      .collect()(0)
    assert(r.getLong(0) == 8L)
    assert(r.getFloat(1) == -0.7143f)
    // a regular graph (triangle alone) has zero degree variance →
    // NULL, never a fault
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val rr = graft.graph.Assortativity.degreeCorrelation(
      (tri ++ tri.map(_.swap)).toDF("a", "b")).collect()(0)
    assert(rr.isNullAt(1))
  }

  test("cmh: null stratum-balanced table at 0, hand-solved effect") {
    import spark.implicits._
    def stratum(k: String, a1c: Int, a1n: Int, a0c: Int, a0n: Int) =
      Seq.fill(a1c)((k, 1, true)) ++ Seq.fill(a1n)((k, 1, false)) ++
        Seq.fill(a0c)((k, 0, true)) ++ Seq.fill(a0n)((k, 0, false))
    // perfectly balanced strata: every a_k = E_k → χ² exactly 0
    val nul = (stratum("a", 5, 5, 5, 5) ++ stratum("b", 5, 5, 5, 5))
      .toDF("k", "arm", "conv")
    val r0 = graft.ops.Stats.cmh(nul, "k", "arm", "conv").collect()(0)
    assert(r0.getLong(0) == 2L && r0.getFloat(1) == 0.0f &&
      !r0.getBoolean(2))
    // two identical effect strata: nt=40, n1=20, m1=20, a=15 →
    // per stratum a−E = 5, V = 160000/62400; χ² from the same
    // micro-unit sequence
    val eff = (stratum("a", 15, 5, 5, 15) ++ stratum("b", 15, 5, 5, 15))
      .toDF("k", "arm", "conv")
    val r1 = graft.ops.Stats.cmh(eff, "k", "arm", "conv").collect()(0)
    val v6 = math.floor(
      20.0 * 20 * 20 * 20 / (40.0 * 40 * 39) * 1e6 + 0.5).toLong
    val chi2 = 10.0 * 10.0 / (2 * v6 / 1e6)
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    assert(r1.getFloat(1) == r6(chi2) && r1.getBoolean(2))
  }

  test("gTest: 2x2 [[30,10],[10,30]] hand-solved chi2/G/V") {
    import spark.implicits._
    val rows = Seq.fill(30)(("a1", "b1")) ++ Seq.fill(10)(("a1", "b2")) ++
      Seq.fill(10)(("a2", "b1")) ++ Seq.fill(30)(("a2", "b2"))
    val df = rows.toDF("x", "y")
    val got = graft.ops.Stats.gTest(df, "x", "y").collect()
    assert(got.length == 4)
    val r = got(0)
    def rd4(v: Double) = math.round(v * 1e4) / 1e4
    val gExp = 2 * rd4(2.0 * 30 * math.log(30.0 / 20)) +
      2 * rd4(2.0 * 10 * math.log(10.0 / 20))
    assert(r.getFloat(r.fieldIndex("chi2")) == 20.0f)
    assert(math.abs(r.getFloat(r.fieldIndex("g")) - gExp) < 1e-4)
    assert(r.getInt(r.fieldIndex("dof")) == 1)
    // V = √(20/(80·1)) = 0.5 exactly
    assert(r.getFloat(r.fieldIndex("cramers_v")) == 0.5f)
  }

  test("richClub: 4-clique + pendant — the club is fully dense") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val got = graft.graph.Assortativity.richClub(edges, Seq(1, 3))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getFloat(3)))).toMap
    // deg: 1→4, 2/3/4→3, 5→1; k=1 club = {1,2,3,4}, all 12 directed
    // clique edges present → φ = 1.0; k=3 club = {1} alone → NULL
    assert(got(1) == ((4L, 12L, Some(1.0f))))
    assert(got(3) == ((1L, 0L, None)))
  }

  test("kendallTau: perfect discordance and the tie-corrected form") {
    import spark.implicits._
    val neg = Seq((1, 1.0, 3.0), (2, 2.0, 2.0), (3, 3.0, 1.0))
      .toDF("k", "x", "y")
    val r0 = graft.ops.Stats.kendallTau(neg, "k", "x", "y").collect()(0)
    assert(r0.getLong(0) == 3L && r0.getFloat(3) == -1.0f)
    // x = [1,2,2,3], y = [1,2,3,4]: one x-tie pair → nc=5, nd=0,
    // τ_b = 5/√(5·6)
    val tied = Seq((1, 1.0, 1.0), (2, 2.0, 2.0), (3, 2.0, 3.0),
      (4, 3.0, 4.0)).toDF("k", "x", "y")
    val r1 = graft.ops.Stats.kendallTau(tied, "k", "x", "y")
      .collect()(0)
    assert(r1.getLong(1) == 5L && r1.getLong(2) == 0L)
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    assert(r1.getFloat(3) == r6(5.0 / math.sqrt(30.0)))
  }

  test("attributionDecay: integer halving weights, remainder to the " +
    "most recent touch, credits sum to exactly 10000") {
    import spark.implicits._
    // touches at 0.5/1.5/3.5 days before the conversion → weights
    // 10⁶/5·10⁵/1.25·10⁵, sw = 1 625 000; floor credits 6153/3076/769
    // leave remainder 2 for the most-recent touch (view)
    val T = 1000000L
    val ev = Seq(
      (1L, 10L, T, "purchase"),
      (2L, 10L, T - 43200L, "view"),
      (3L, 10L, T - 129600L, "click"),
      (4L, 10L, T - 302400L, "email"))
      .toDF("event_id", "user_id", "tt", "event_type")
      .withColumn("ts", col("tt").cast("timestamp")).drop("tt")
    val got = graft.ops.EventAnalytics.attributionDecay(ev)
      .collect().map(r => r.getString(0) ->
        r.getLong(r.fieldIndex("decay_fp"))).toMap
    assert(got == Map("view" -> 6155L, "click" -> 3076L,
      "email" -> 769L))
    assert(got.values.sum == 10000L)
  }

  test("silhouette + daviesBouldin: hand-traced two-cluster Lloyd") {
    import spark.implicits._
    // vecs (0,0),(0,2),(10,10),(10,12); init = two lowest ids →
    // after 2 Lloyd rounds centroids settle at (0,1) and (10,11),
    // every point at distance 1 from its own centroid
    val emb = Seq((1L, Seq(0f, 0f)), (2L, Seq(0f, 2f)),
      (3L, Seq(10f, 10f)), (4L, Seq(10f, 12f)))
      .toDF("vec_id", "embedding")
    def m6(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    def s(b: Double) = (math.sqrt(b) - 1.0) / math.sqrt(b)
    val sil = graft.llm.Similarity.silhouette(emb, nlist = 2,
      iters = 2).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getFloat(2))).toMap
    val exp = r6((m6(s(221)) + m6(s(181))) / 2.0 / 1e6)
    assert(sil(1) == ((2L, exp)) && sil(2) == ((2L, exp)))
    // S₁ = S₂ = 1, centroid gap √200 → DB = 2/√200 for both clusters
    val db = graft.llm.Similarity.daviesBouldin(emb, nlist = 2,
      iters = 2).collect()(0)
    assert(db.getLong(0) == 2L)
    assert(db.getFloat(1) == r6(m6(2.0 / math.sqrt(200.0)) / 1e6))
  }

  test("hopPlot: path graph, integer 90% rule picks the last hop") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val nodes = (1L to 5L).toDF("id")
    val seeds = Seq(1L).toDF("id")
    val got = graft.graph.Bfs.hopPlot(nodes, edges, seeds, rounds = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getFloat(3), r.getInt(4)))
      .toMap
    // one node first reached per hop; 4·10 < 5·9 so 90% needs hop 4
    assert(got(0) == ((1L, 1L, 0.2f, 4)))
    assert(got(2) == ((1L, 3L, 0.6f, 4)))
    assert(got(4) == ((1L, 5L, 1.0f, 4)))
  }

  test("distinctNgrams: hand-counted two-doc corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a a a"), (2L, "a b"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextOps.distinctNgrams(docs).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getFloat(3))).toMap
    assert(got(1) == ((5L, 2L, 0.4f)))
    assert(got(2) == ((3L, 2L, 0.666667f)))
    assert(got(3) == ((1L, 1L, 1.0f)))
  }

  test("jarqueBera: symmetric uniform fixture hand-solved") {
    import spark.implicits._
    // [1..5]: skew exactly 0, m2 = 2, m4 = 6.8 → K = 1.7,
    // JB = 5·(1.3²/24) = 0.3520833…
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("value")
    val r = graft.ops.Stats.jarqueBera(df, "value").collect()(0)
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    assert(r.getLong(0) == 5L)
    assert(r.getFloat(1) == 0.0f)
    assert(r.getFloat(2) == r6(-1.3))
    assert(r.getFloat(3) == r6(5.0 * (1.3 * 1.3 / 24.0)))
    assert(!r.getBoolean(4))
  }

  test("cliffsDelta: hand-counted pairs with a tie") {
    import spark.implicits._
    // purchase [3,5] vs view [1,3,4]: 4 greater, 1 less, 1 tie →
    // δ = 3/6 = 0.5
    val df = Seq(("purchase", 3.0), ("purchase", 5.0), ("view", 1.0),
      ("view", 3.0), ("view", 4.0)).toDF("event_type", "value")
    val r = graft.ops.Stats.cliffsDelta(df, "value", "event_type",
      "purchase", "view").collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 1L)
    assert(r.getFloat(4) == 0.5f)
  }

  test("holmAdjust: step-down running max, NULL passthrough") {
    import spark.implicits._
    // p = [.01,.04,.03,.9], m = 4 → raw = [.04,.09,.08,.9] in rank
    // order [.01,.03,.04,.9] → running max [.04,.09,.09,.9]
    val fam = Seq(("a", Some(0.01)), ("b", Some(0.04)),
      ("c", Some(0.03)), ("d", Some(0.9)), ("e", None))
      .toDF("k", "p")
    val got = graft.ops.Stats.holmAdjust(fam, "k", "p", alpha = 0.05)
      .collect().map { r =>
        r.getString(0) -> (
          if (r.isNullAt(r.fieldIndex("p_adj"))) None
          else Some(r.getFloat(r.fieldIndex("p_adj"))),
          if (r.isNullAt(r.fieldIndex("signif"))) None
          else Some(r.getBoolean(r.fieldIndex("signif"))))
      }.toMap
    assert(got("a") == ((Some(0.04f), Some(true))))
    assert(got("c") == ((Some(0.09f), Some(false))))
    assert(got("b") == ((Some(0.09f), Some(false))))
    assert(got("d") == ((Some(0.9f), Some(false))))
    assert(got("e") == ((None, None)))
  }

  test("ebShrink: zero within-noise means no shrinkage; noisy " +
    "segments shrink by the hand-solved factor") {
    import spark.implicits._
    // σ̂² = 0 → B = 0, eb = raw exactly
    val clean = (Seq.fill(4)(("a", 10.0)) ++ Seq.fill(4)(("b", 20.0)))
      .toDF("g", "v")
    val g0 = graft.ops.Stats.ebShrink(clean, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getFloat(3), r.getFloat(4)))
      .toMap
    assert(g0("a") == ((0.0f, 10.0f)) && g0("b") == ((0.0f, 20.0f)))
    // [9,11,9,11] vs [19,21,19,21]: σ̂² = 1, τ̂² = 50 − 0.25,
    // B = 0.25/50 = 0.005, eb_a = 15 + 0.995·(10−15)
    val noisy = (Seq(9.0, 11.0, 9.0, 11.0).map(("a", _)) ++
      Seq(19.0, 21.0, 19.0, 21.0).map(("b", _))).toDF("g", "v")
    val g1 = graft.ops.Stats.ebShrink(noisy, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getFloat(3), r.getFloat(4)))
      .toMap
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    val b = 0.25 / (0.25 + 49.75)
    assert(g1("a") == ((r6(b), r6(15.0 + (1.0 - b) * -5.0))))
    assert(g1("b") == ((r6(b), r6(15.0 + (1.0 - b) * 5.0))))
  }

  test("seasonal strength: pure trend pins F_T = 1, pure weekly " +
    "pins F_S = 1, each NULLs the other") {
    import spark.implicits._
    // id 1: close = t (pure linear trend) → residual exactly 0,
    //   Var(S+R) = 0 → F_T = 1, F_S NULL
    // id 2: close = f(weekday), flat trend → residual exactly 0,
    //   Var(T+R) = 0 → F_S = 1, F_T NULL
    val days = (0 until 28).map(i =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong)))
    val bars = days.zipWithIndex.flatMap { case (dt, i) =>
      val dowV = 10.0 + (i % 7) * 2.0
      Seq((1L, dt, 100.0 + i), (2L, dt, dowV))
    }.toDF("id", "dt", "close")
    val got = graft.ts.Seasonal.strength(bars).collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(2)) None else Some(r.getFloat(2)),
        if (r.isNullAt(3)) None else Some(r.getFloat(3)))).toMap
    assert(got(1L) == ((Some(1.0f), None)))
    assert(got(2L) == ((None, Some(1.0f))))
  }

  test("hhi: hand-solved three-player market; monopoly pins 1.0") {
    import spark.implicits._
    val m3 = Seq(50L, 30L, 20L).toDF("cents")
    val r = graft.ops.Concentration.hhi(m3, "cents").collect()(0)
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    assert(r.getLong(0) == 3L)
    assert(r.getFloat(1) == 0.38f)
    assert(r.getFloat(2) == r6(1.0 / 0.38))
    assert(r.getFloat(3) == 0.5f)
    val mono = graft.ops.Concentration.hhi(Seq(100L).toDF("cents"),
      "cents").collect()(0)
    assert(mono.getFloat(1) == 1.0f && mono.getFloat(2) == 1.0f)
  }

  test("theil: equality pins exactly 0, one-holds-all pins ln N") {
    import spark.implicits._
    val eq = Seq(10L, 10L, 10L, 10L).toDF("cents")
    assert(graft.ops.Concentration.theil(eq, "cents")
      .collect()(0).getFloat(1) == 0.0f)
    // [40,0,0,0]: μ = 10, the lone term 4·ln4 → T = ln 4
    val all = Seq(40L, 0L, 0L, 0L).toDF("cents")
    val t6 = math.floor(4.0 * math.log(4.0) * 1e6 + 0.5)
    def r6(x: Double) = (math.floor(x * 1e6 + 0.5) / 1e6).toFloat
    assert(graft.ops.Concentration.theil(all, "cents")
      .collect()(0).getFloat(1) == r6(t6 / 4.0 / 1e6))
  }

  test("jackknifeDiff: hand-solved four-bucket fixture") {
    import spark.implicits._
    // arm 0: units 0 (v 10), 2 (v 20); arm 1: units 1 (30), 3 (50)
    // θ̂ = 40 − 15 = 25; θ_(b) = [20, 35, 30, 15] over 4 buckets
    // → var_JK = 3 · (687.5 − 625) = 187.5, se = 13.693064
    val obs = Seq((0L, 0, 10L), (2L, 0, 20L), (1L, 1, 30L),
      (3L, 1, 50L)).toDF("uid", "arm", "v4")
    val r = graft.ops.Stats.jackknifeDiff(obs, "uid", "arm", "v4",
      unit = 1.0, buckets = 4).collect()(0)
    assert(r.getInt(0) == 4)
    assert(r.getFloat(1) == 25.0f)
    assert(math.abs(r.getFloat(2) - 13.693064) < 1e-5)
    assert(math.abs(r.getFloat(3) - 25.0 / math.sqrt(187.5)) < 1e-5)
  }
}
