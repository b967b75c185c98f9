package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 ground-truth fixtures: hand-solved cases for the round's
  * new operators (Louvain's live in [[LouvainSpec]]).
  */
class Round13OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sym(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    (es ++ es.map(_.swap)).toDF("a", "b")
  }

  test("obrien-fleming: hand-solved two-look fixture") {
    import spark.implicits._
    // day 1: weak effect — diff = 1, vp = 1, vn = 1, z = 1 < u1 =
    // 1.977·√2 ≈ 2.796 (no cross); day 2 adds a strong arm-1 batch —
    // cumulative diff = 6, vp = 13.5, vn = 6.75, z = 6/√6.75 ≈
    // 2.3094 > u2 = 1.977 (cross). All moments hand-computed.
    val obs = Seq(
      (1L, 0L, 0L), (1L, 0L, 2L), (1L, 1L, 1L), (1L, 1L, 3L),
      (2L, 0L, 0L), (2L, 0L, 2L), (2L, 1L, 11L), (2L, 1L, 13L))
      .toDF("day", "arm", "v4")
    val out = graft.ops.Stats.obrienFleming(obs, "day", "arm", "v4",
      unit = 1.0, looks = 2)
      .orderBy("look").collect()
    assert(out.length == 2)
    val l1 = out(0); val l2 = out(1)
    assert(l1.getFloat(l1.fieldIndex("z")) == 1.0f)
    assert(!l1.getBoolean(l1.fieldIndex("crossed")))
    assert(l2.getFloat(l2.fieldIndex("z")) == 2.309401f)
    assert(l2.getFloat(l2.fieldIndex("bound")) == 1.977f)
    assert(l2.getBoolean(l2.fieldIndex("crossed")))
    assert(l1.getInt(l1.fieldIndex("first_cross_look")) == 2)
    // boundary is conservative-early: u1 > u2
    assert(l1.getFloat(l1.fieldIndex("bound")) >
      l2.getFloat(l2.fieldIndex("bound")))
  }

  test("span cut all-but-first: within-doc repeat, min-match, priority") {
    import spark.implicits._
    val s12 = (1 to 12).map(i => s"s$i").mkString(" ") // the 12-token span
    val s8 = (5 to 12).map(i => s"s$i").mkString(" ") // its 8-token tail
    val docs = Seq(
      (1L, s"$s12 x1 x2 $s12"), // span twice WITHIN one doc (26 tokens)
      (2L, s"y1 y2 $s12 y3"), // cross-doc copy (15 tokens)
      (3L, s"z1 $s8 z2 z3")) // only 8 shared tokens < minMatch (11)
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.cutSpansAllButFirst(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // doc 1: the SECOND in-doc occurrence (pos 15..26) is cut — the
    // first survives (all-but-first priority)
    assert(out(1L) == ((26, 12, s"$s12 x1 x2")))
    // doc 2: its copy is a later occurrence than doc 1's -> fully cut
    assert(out(2L) == ((15, 12, "y1 y2 y3")))
    // doc 3: 8-token overlap detected by the anchors but BELOW the
    // 12-token min-match -> untouched
    assert(out(3L) == ((11, 0, s"z1 $s8 z2 z3")))
    // contrast: the cross-doc-only cut leaves doc 1's internal repeat
    val old = graft.llm.Dedup.cutDuplicateSpans(docs)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(old(1L) == 0, "cross-doc-only form must not self-cut")
  }

  test("transitivity: triangle + pendant hand-solved") {
    // edges {1-2, 1-3, 2-3, 3-4}: degrees (2, 2, 3, 1) -> wedges
    // 1+1+3+0 = 5; one triangle -> closed = 3; T = 3/5 = 0.6
    val e = sym(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val (deg, cnt) = graft.graph.Triangles.perNodeBundle(e)
    val r = graft.graph.Triangles.transitivityFromBundle(deg, cnt)
      .head()
    assert(r.getLong(r.fieldIndex("n_nodes")) == 4L)
    assert(r.getLong(r.fieldIndex("n_triangles")) == 1L)
    assert(r.getLong(r.fieldIndex("n_wedges")) == 5L)
    assert(r.getFloat(r.fieldIndex("transitivity")) == 0.6f)
  }

  test("categorical assortativity: perfect vs mixed fixtures") {
    import spark.implicits._
    def labels(m: (Long, String)*) = m.toSeq.toDF("id", "cls")
    // only-within-class edges -> r = 1 exactly
    val eIn = sym(Seq((1L, 2L), (3L, 4L)))
    val lab = labels(1L -> "x", 2L -> "x", 3L -> "y", 4L -> "y")
    val r1 = graft.graph.Assortativity.byCategory(eIn, lab).head()
    assert(r1.getFloat(r1.fieldIndex("r_assort")) == 1.0f)
    // hand-solved mixed case: edges 1-2 (xx), 3-4 (yy), 1-3 (xy):
    // directed M = 6, e_xx = e_yy = 2, a_x = a_y = 3 ->
    // r = (6*4 - 18)/(36 - 18) = 6/18 = 0.333333
    val eMix = sym(Seq((1L, 2L), (3L, 4L), (1L, 3L)))
    val r2 = graft.graph.Assortativity.byCategory(eMix, lab).head()
    assert(r2.getInt(r2.fieldIndex("n_classes")) == 2)
    assert(r2.getLong(r2.fieldIndex("m_edges")) == 6L)
    assert(r2.getFloat(r2.fieldIndex("r_assort")) == 0.333333f)
  }

  test("heaps beta = 1 on an all-new-vocabulary corpus; zipf ~ -1") {
    import spark.implicits._
    // every doc contributes only unseen tokens -> V = tokens exactly
    // at every checkpoint -> the log-log fit is y = x, beta = 1
    val docs = (1L to 20L).map(i =>
      (i, (1 to 5).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val h = graft.llm.TextOps.heapsLaw(docs).collect()
    assert(h.length == 10)
    assert(h.forall(r =>
      r.getLong(r.fieldIndex("n_tokens")) ==
        r.getLong(r.fieldIndex("n_distinct"))))
    assert(h.head.getFloat(h.head.fieldIndex("heaps_beta")) == 1.0f)
    // freq = 12/rank exactly -> slope -1 (up to the micro flooring)
    val z = (1 to 4).flatMap(r => Seq.fill(12 / r)((1L, s"w$r")))
      .zipWithIndex.map { case ((_, w), i) => (i.toLong, w) }
    val zd = z.map { case (i, w) => (i, w) }.toDF("doc_id", "text")
    val zr = graft.llm.TextOps.zipfSlope(zd, topN = 4).head()
    assert(zr.getInt(zr.fieldIndex("n_terms")) == 4)
    assert(zr.getLong(zr.fieldIndex("top_cnt")) == 12L)
    assert(math.abs(zr.getFloat(zr.fieldIndex("zipf_slope")) + 1.0f)
      < 1e-3)
  }

  test("apAtK: hand-solved relevance recount and integer AP") {
    import spark.implicits._
    // query terms {a,b,c,d}; corpus relevance (>= 3 matches):
    // d1, d3 retrieved + d4 missed -> R = 3; list rel = (1, 0, 1)
    val ranked = Seq((9L, 1, 1L, 3), (9L, 2, 2L, 1), (9L, 3, 3L, 4))
      .toDF("query_id", "rank", "doc_id", "n_terms")
    val docs = Seq((1L, "a b c x"), (2L, "a x y z"),
      (3L, "a b c d"), (4L, "a b d q")).toDF("doc_id", "text")
    val queries = Seq((9L, "a"), (9L, "b"), (9L, "c"), (9L, "d"))
      .toDF("query_id", "term")
    val r = graft.llm.Retrieval.apAtK(ranked, docs, queries).head()
    assert(r.getLong(r.fieldIndex("n_rel_corpus")) == 3L)
    assert(r.getInt(r.fieldIndex("n_rel_at_k")) == 2)
    assert(r.getFloat(r.fieldIndex("p_at_k")) == 0.2f)
    assert(r.getFloat(r.fieldIndex("recall_at_k")) == 0.666667f)
    // apn = (1e6*1) div 1 + (1e6*2) div 3 = 1666666; div 3 = 555555
    assert(r.getFloat(r.fieldIndex("ap_at_k")) == 0.555555f)
  }

  test("brier decomposition: perfect sharp forecasts hand-solved") {
    import spark.implicits._
    // scores {0, 0, 1, 1} with labels matching exactly: brier = 0,
    // reliability = 0, base = 0.5, uncertainty = 0.25, and resolution
    // recovers the full uncertainty (perfectly sharp)
    val df = Seq((0.0, false), (0.0, false), (1.0, true), (1.0, true))
      .toDF("score", "label")
    val r = graft.ops.Stats.brierDecomposition(df, "score", "label")
      .head()
    assert(r.getLong(r.fieldIndex("n")) == 4L)
    assert(r.getFloat(r.fieldIndex("base_rate")) == 0.5f)
    assert(r.getFloat(r.fieldIndex("brier")) == 0.0f)
    assert(r.getFloat(r.fieldIndex("reliability")) == 0.0f)
    assert(r.getFloat(r.fieldIndex("resolution")) == 0.25f)
    assert(r.getFloat(r.fieldIndex("uncertainty")) == 0.25f)
  }

  test("wilson interval: exact boundary pins at p = 0 and p = 1") {
    import spark.implicits._
    // Wilson at p-hat = 0: half = z^2/2n = center, so lo = 0 EXACTLY
    // (the Wald interval would report an impossible negative); dually
    // hi = 1 exactly at p-hat = 1
    val df = Seq(("a", false), ("a", false), ("a", false),
      ("b", true), ("b", true)).toDF("seg", "pos")
    val out = graft.ops.Stats.wilsonInterval(df, "seg", "pos")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a"); val b = out("b")
    assert(a.getFloat(a.fieldIndex("p_hat")) == 0.0f)
    assert(a.getFloat(a.fieldIndex("lo")) == 0.0f)
    assert(a.getFloat(a.fieldIndex("hi")) > 0.0f)
    assert(b.getFloat(b.fieldIndex("p_hat")) == 1.0f)
    assert(b.getFloat(b.fieldIndex("hi")) == 1.0f)
    assert(b.getFloat(b.fieldIndex("lo")) < 1.0f)
  }

  test("sobel features: flat image zero, vertical step edge hand-solved") {
    import spark.implicits._
    import graft.llm.Multimodal
    def img(w: Int, h: Int, gv: (Int, Int) => Int): Array[Byte] = {
      val px = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px((y * w + x) * 3 + c) = gv(x, y).toByte
      Multimodal.encodePpm(Multimodal.PpmImage(w, h, 255, px))
    }
    val flat = img(6, 4, (_, _) => 100)
    // left half 0 / right half 255: gx = 1020 at the two boundary
    // columns of each interior row, gy = 0 — energy 4 * 1020
    val step = img(6, 4, (x, _) => if (x < 3) 0 else 255)
    val frame = Seq((1L, flat), (2L, step)).toDF("doc_id", "payload")
    val out = Multimodal.sobelFeatures(frame)
      .collect().map(r => r.getLong(0) -> r).toMap
    val f = out(1L)
    assert(f.getInt(f.fieldIndex("n_interior")) == 8)
    assert(f.getLong(f.fieldIndex("edge_energy")) == 0L)
    assert(f.getInt(f.fieldIndex("n_edges")) == 0)
    val s = out(2L)
    assert(s.getLong(s.fieldIndex("edge_energy")) == 4080L)
    assert(s.getInt(s.fieldIndex("n_edges")) == 4)
    assert(s.getInt(s.fieldIndex("max_grad")) == 1020)
  }

  test("pacf: period-2 series pins lag 1 = -1 and the NULL guard") {
    import spark.implicits._
    // x = 1,2,1,2,...: per-lag Pearson is exactly -1, +1, -1, +1, -1;
    // Durbin-Levinson: phi_11 = -1, then den_2 = 1 - (-1)(-1) = 0 ->
    // NULL, propagated through every later diagonal (the guard path)
    val s = (1 to 40).map(i => (i, if (i % 2 == 0) 2.0 else 1.0))
      .toDF("k", "v")
    val out = graft.ops.Stats.pacf(s, "k", "v", 5)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getFloat(1)))).toMap
    assert(out(1) == Some(-1.0f))
    assert(out(2).isEmpty && out(3).isEmpty && out(5).isEmpty)
  }
}
