package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Louvain's handshake ascent ([[graft.graph.Louvain]]): hand-walked
  * fixtures, labels pinned on seeded random graphs, the per-round
  * ascent, and the round's cost shape (jobs per round, checkpoints
  * held after a run). */
class LouvainSpec extends AnyFunSuite {
  import graft.graph.Louvain
  private lazy val spark = TestSpark.spark

  private def sym(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    (es ++ es.map(_.swap)).toDF("a", "b")
  }

  private def qMod(edges: DataFrame, labels: DataFrame): Float =
    graft.graph.Modularity.byPartition(edges, labels)
      .select(col("q_mod")).head().getFloat(0)

  /** Seeded weighted graph: `m` random undirected edges of weight 1..3
    * over nodes 1..n (parallel draws sum, a draw with a = b is a
    * self-loop) plus a self-loop on about every fifth node, as the
    * symmetric directed (a, b, w) rows [[Louvain.oneLevelW]] reads. */
  private def randomW(seed: Long, n: Int, m: Int): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    val und = Seq.fill(m) {
      val a = 1L + r.nextInt(n); val b = 1L + r.nextInt(n)
      ((math.min(a, b), math.max(a, b)), 1L + r.nextInt(3))
    } ++ (1L to n.toLong).filter(_ => r.nextInt(5) == 0)
      .map(i => ((i, i), 1L + r.nextInt(4)))
    und.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted.flatMap {
      case ((a, b), w) =>
        if (a == b) Seq((a, a, w)) else Seq((a, b, w), (b, a, w))
    }.toDF("a", "b", "w")
  }

  /** Deliberate ΔQ ties: a 6-ring (every node ties between its two
    * neighbors), a 4-leaf star of equal weights with a hub self-loop,
    * a bridged barbell and a disjoint K4. */
  private def tieGraph: DataFrame = {
    import spark.implicits._
    val und = (101L to 106L).map(i =>
        (i, if (i == 106L) 101L else i + 1, 1L)) ++
      (202L to 205L).map(i => (201L, i, 2L)) ++
      Seq((301L, 302L, 1L), (301L, 303L, 1L), (302L, 303L, 1L),
        (304L, 305L, 1L), (304L, 306L, 1L), (305L, 306L, 1L),
        (303L, 304L, 1L)) ++
      (for (i <- 307L to 310L; j <- 307L to 310L if i < j)
        yield (i, j, 1L))
    (und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) } ++
      Seq((201L, 201L, 3L))).toDF("a", "b", "w")
  }

  /** Seeded symmetric pair set without loops ([[Louvain.oneLevel]]'s
    * contract). */
  private def randomPairs(seed: Long, n: Int, m: Int): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    Seq.fill(m)((1L + r.nextInt(n), 1L + r.nextInt(n)))
      .filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.sorted
      .toDF("a", "b")
  }

  /** A weighted frame as repeated unit pairs, so [[Modularity]] (which
    * counts rows) scores it with edge weights as multiplicities. */
  private def unitPairs(e: DataFrame): DataFrame =
    e.select(col("a"), col("b"),
        explode(array_repeat(lit(1), col("w").cast("int"))).as("u"))
      .select(col("a"), col("b"))

  private def labels(df: DataFrame, c: String): String =
    df.select(col("id"), col(c)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      .map { case (i, l) => s"$i:$l" }.mkString(",")

  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromResource("graft/louvain_golden.txt")
    try src.getLines().filterNot(_.startsWith("#"))
      .map(_.split(" ", 2)).map(a => a(0) -> a(1)).toMap
    finally src.close()
  }

  test("louvain: hand-walked moves, Q(Louvain) >= Q(LPA)") {
    // star 10-{7,8,9}: LPA (1 round) separates hub from leaves
    // (Q = -0.5); Louvain's handshake merges one leaf per round until
    // all four share a community (Q = 0) — hand-walked: r1 moves 7
    // into {10} (the id-ranked winner of the 4-way dq=6 tie), r2 adds
    // 8 (dq=4), r3 adds 9 (dq=2), r4 idle.
    val star = sym(Seq((10L, 7L), (10L, 8L), (10L, 9L)))
    val louv = Louvain.oneLevel(star, rounds = 4)
    assert(louv.select("community").distinct().count() == 1)
    val lpaStar = graft.graph.LabelProp.run(star, rounds = 1)
      .select(col("id"), col("lbl").as("community"))
    val louvStar = louv.select(col("id"), col("community"))
    assert(qMod(star, louvStar) == 0.0f)
    assert(qMod(star, lpaStar) == -0.5f)
    // barbell: both find the two triangles — equality at the optimum.
    // Louvain hand-walk: r1 pairs (1,2) and (5,6); r2 pulls 3 into
    // {1,2} and 4 into {5,6} (dq=32 each); r3/r4 idle.
    val barbell = sym(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)))
    val louvB = Louvain.oneLevel(barbell, rounds = 4)
      .select(col("id"), col("community"))
    val got = louvB.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(Set(got(4L), got(5L), got(6L)).size == 1)
    assert(got(1L) != got(4L))
    val lpaB = graft.graph.LabelProp.run(barbell, rounds = 4)
      .select(col("id"), col("lbl").as("community"))
    assert(qMod(barbell, louvB) >= qMod(barbell, lpaB))
  }

  test("louvain twoLevel: Q(level 2) >= Q(level 1), contraction exact") {
    // a 4-clique chain: cliques {1..4}, {5..8}, {9..12}, bridged
    // 4-5 and 8-9 — level 1 finds the cliques; level 2 may merge
    // bridge-joined cliques but must never decrease Q
    def clique(ids: Seq[Long]) =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val edges = sym(clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(5L, 6L, 7L, 8L)) ++ clique(Seq(9L, 10L, 11L, 12L)) ++
      Seq((4L, 5L), (8L, 9L)))
    val l1 = Louvain.oneLevel(edges, rounds = 4)
      .select(col("id"), col("community"))
    val l2 = Louvain.twoLevel(edges, 4, 4)
    val q1 = qMod(edges, l1)
    val q2 = qMod(edges, l2.select(col("id"), col("community")))
    assert(q2 >= q1, s"q2 $q2 < q1 $q1")
    assert(q2 >= 0.5f, s"clique chain should score high, got $q2")
    // level-2 labels refine consistently: same c1 => same community
    val viol = l2.groupBy(col("c1"))
      .agg(countDistinct(col("community")).as("nc"))
      .where(col("nc") > 1).count()
    assert(viol == 0L, "a level-1 community split across level-2 labels")
    // csize counts ORIGINAL nodes per level-2 community
    assert(l2.select(sum(when(col("id").isNotNull, 1L))).head().getLong(0)
      == 12L)
  }

  test("louvain oneLevelW: weighted graph with self-loops, exact ascent") {
    import spark.implicits._
    // two supernodes {1, 2} with self-loop mass and a HEAVY bridge:
    // ΔQ·M²/2 for 2 → {1} is 58·8 − 18·(19 − 18 + 18) = 122 > 0 (the
    // merge applies); 3 → {1, 2} afterwards is 58·1 − 21·(37 − 21 +
    // 21) < 0 (3's self-loop mass keeps it alone). Hand-solved with
    // M = 58, k₁ = 19, k₂ = 18, k₃ = 21.
    val e = Seq(
      (1L, 1L, 10L), (2L, 2L, 10L), (1L, 2L, 8L), (2L, 1L, 8L),
      (3L, 3L, 20L), (3L, 1L, 1L), (1L, 3L, 1L))
      .toDF("a", "b", "w")
    val out = Louvain.oneLevelW(e, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 and 2 share a community; 3's self-loop mass keeps it alone
    assert(out(1L) == out(2L))
    assert(out(3L) != out(1L))
  }

  test("golden labels: seeded weighted graphs with self-loops and ties") {
    for ((seed, n, m) <- Seq((1L, 30, 60), (2L, 40, 70), (3L, 25, 90));
        r <- Seq(1, 4, 8)) {
      val tag = s"w$seed.r$r"
      assert(labels(Louvain.oneLevelW(randomW(seed, n, m), rounds = r),
        "community") == golden(tag), tag)
    }
    for (r <- Seq(1, 2, 4, 8))
      assert(labels(Louvain.oneLevelW(tieGraph, rounds = r),
        "community") == golden(s"tie.r$r"), s"tie.r$r")
  }

  test("golden labels: oneLevel and twoLevel on seeded pair sets") {
    for (seed <- Seq(4L, 5L)) {
      val p = randomPairs(seed, 50, 90)
      assert(labels(Louvain.oneLevel(p, rounds = 4), "community") ==
        golden(s"p$seed.r4"))
      val two = Louvain.twoLevel(p, 4, 4)
      assert(labels(two, "c1") == golden(s"p$seed.two.c1"))
      assert(labels(two, "community") == golden(s"p$seed.two.c2"))
    }
  }

  test("Q never decreases from one round to the next") {
    for (e <- Seq(unitPairs(randomW(2L, 40, 70)), unitPairs(tieGraph),
        randomPairs(5L, 50, 90))) {
      val w = e.groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      val qs = (0 to 5).map(r => qMod(e, Louvain.oneLevelW(w, rounds = r)
        .select(col("id"), col("community"))))
      qs.sliding(2).foreach(p => assert(p(1) >= p(0), qs.mkString(" ")))
      assert(qs.last > qs.head, qs.mkString(" "))
    }
  }

  test("a handshake round runs at most 8 Spark jobs") {
    // a 10-leaf star moves exactly one leaf per round, so no round
    // exits early
    val star = sym((1L to 10L).map(i => (100L, i)))
      .select(col("a"), col("b"), lit(1L).as("w"))
    val jobs = (0 to 4).map(r =>
      TestSpark.jobsDuring(Louvain.oneLevelLabelsW(star, rounds = r)))
    info(s"jobs after rounds 0..4: ${jobs.mkString(" ")}")
    jobs.sliding(2).foreach(p =>
      assert(p(1) - p(0) <= 8, jobs.mkString(" ")))
  }

  test("a run holds no round checkpoint but the returned state, no GC") {
    val sc = spark.sparkContext
    def stored = sc.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    val out = Louvain.oneLevel(randomPairs(4L, 50, 90), rounds = 4)
    out.collect()
    val leaves = out.queryExecution.logical.collectLeaves()
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    assert(leaves.size == 1)
    assert(stored -- before == leaves)
  }
}
