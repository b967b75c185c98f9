package graft

import graft.graph._
import graft.llm.Pca
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The iterative graph operators' rounds: hand-solved label
  * propagation and random walks, and the [[Rounds]] contract over
  * every loop that runs on it — what a run leaves in storage, the jobs
  * a round starts, and the statistics a round state carries. */
class GraphRoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sym(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    (es ++ es.map(_.swap)).toDF("a", "b")
  }

  test("labelProp: barbell graph converges to its two triangles") {
    // triangles {1,2,3} and {4,5,6} bridged by 3–4; hand-walked:
    // l1 = (2,1,1,3,4,4), l2 = (1,1,1,4,3,3), l3 = (1,1,1,3,3,3) —
    // stable from round 3, so rounds = 4 lands on the fixed point.
    val pairs = sym(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)))
    val got = LabelProp.run(pairs, rounds = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      4L -> (3L, 3L), 5L -> (3L, 3L), 6L -> (3L, 3L)))
  }

  test("labelProp: frequency beats smaller label, ties break down") {
    // star: hub 10 with leaves 7, 8, 9 — after round 1 the hub holds
    // the smallest leaf label (tie of three), each leaf holds 10.
    val pairs = sym(Seq((10L, 7L), (10L, 8L), (10L, 9L)))
    val got = LabelProp.run(pairs, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 7L, 7L -> 10L, 8L -> 10L, 9L -> 10L))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("randomWalk: follows the md5-argmin hop rule exactly") {
    // path 1–2–3: step 1 from seed 1 must go to 2 (only neighbor);
    // step 2 from 2 picks argmin over {1, 3} of md5("1:2:" + v).
    val pairs = sym(Seq((1L, 2L), (2L, 3L)))
    val seeds = {
      import spark.implicits._; Seq(1L).toDF("id")
    }
    val got = RandomWalk.walks(pairs, seeds, steps = 2)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val expStep2 =
      if (md5hex("1:2:1") < md5hex("1:2:3")) 1L else 3L
    assert(got == Map(0 -> 1L, 1 -> 2L, 2 -> expStep2))
  }

  test("randomWalk: isolated seed keeps only its step-0 row") {
    import spark.implicits._
    val pairs = sym(Seq((1L, 2L)))
    val got = RandomWalk.walks(pairs, Seq(1L, 9L).toDF("id"),
        steps = 3)
      .groupBy("walk_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(9L) == 1L)
    assert(got(1L) == 4L)
  }

  test("randomWalk: replays identically (common-random-number draw)") {
    val pairs = sym(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L)))
    val seeds = { import spark.implicits._; Seq(1L, 2L).toDF("id") }
    def run() = RandomWalk.walks(pairs, seeds, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(run() == run())
  }

  /** Seeded undirected graph over nodes 1..n: `m` random edges plus a
    * ring through every node (connected, with triangles), as distinct
    * symmetric (a, b) pairs without loops. */
  private def seeded(seed: Long, n: Int, m: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val und = (1L to n.toLong).map(i => (i, i % n + 1)) ++
      Seq.fill(m)((1L + r.nextInt(n), 1L + r.nextInt(n)))
    sym(und.filter { case (a, b) => a != b }).distinct()
  }

  /** A long path 1–2–…–n as symmetric (a, b) pairs: every bounded
    * frontier, peel and label round still changes something. */
  private def path(n: Int): DataFrame =
    sym((1L until n.toLong).map(i => (i, i + 1)))

  private def ids(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("id")).distinct()

  private lazy val graph = seeded(7L, 30, 45)
  private lazy val directed =
    graph.select(col("a").as("src"), col("b").as("dst"))

  /** 20 four-dimensional embeddings for the PCA power iteration. */
  private lazy val emb = {
    import spark.implicits._
    (0 until 20).map(n => (n.toLong,
      Array.tabulate(4)(j => ((n * 7 + j * 3) % 5 - 2).toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("a round loop holds no checkpoint but what its result reads, " +
      "no GC") {
    import spark.implicits._
    val weighted = directed.withColumn("w", col("src") % 3 + 1)
    val seeds = Seq(1L, 2L).toDF("id")
    // every operator on Rounds
    val ported: Seq[(String, () => DataFrame)] = Seq(
      "PageRank.run" -> (() => PageRank.run(ids(graph), directed, 3)),
      "PageRank.runWeighted" -> (() =>
        PageRank.runWeighted(ids(graph), weighted, 3)),
      "PageRank.runPersonalized" -> (() =>
        PageRank.runPersonalized(ids(graph), directed, seeds, 3)),
      "LabelProp.run" -> (() => LabelProp.run(graph, 3)),
      "Hits.run" -> (() => Hits.run(ids(graph), ids(graph), directed, 3)),
      "Sssp.distances" -> (() => Sssp.distances(ids(graph),
        graph.withColumn("len", col("a") % 4 + 1), seeds, 4)),
      "Bfs.hops" -> (() => Bfs.hops(ids(graph), graph, seeds, 4)),
      "KCore.kCore" -> (() => KCore.kCore(graph, k = 3)),
      "ConnectedComponents.run" -> (() =>
        ConnectedComponents.run(ids(graph), graph)),
      "Mis.luby" -> (() => Mis.luby(ids(graph), directed, 3)),
      "Truss.kTruss" -> (() => Truss.kTruss(graph, k = 3, rounds = 2)),
      "Louvain.oneLevel" -> (() => Louvain.oneLevel(graph, 3)),
      "Louvain.twoLevel" -> (() => Louvain.twoLevel(graph, 3, 3)),
      "Pca.loadings" -> (() => Pca.loadings(emb, dim = 4, iters = 3)))
    val sc = spark.sparkContext
    def stored = sc.getRDDStorageInfo.map(_.id).toSet
    val held = ported.flatMap { case (name, run) =>
      val before = stored
      val out = run()
      assert(out.collect().nonEmpty, name)
      val leaves = out.queryExecution.logical.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      val added = stored -- before
      if (added == leaves) None
      else Some(s"$name holds ${added.size}, reads ${leaves.size}")
    }
    assert(held.isEmpty, held.mkString("; "))
  }

  /** Spark jobs of each of rounds 2..4 of `run(rounds)`. */
  private def jobsPerRound(run: Int => Unit): Seq[Int] =
    (1 to 4).map(r => TestSpark.jobsDuring(run(r)))
      .sliding(2).map(p => p(1) - p(0)).toSeq

  test("connected components, k-core and sssp rounds start no " +
      "separate fixpoint job") {
    import spark.implicits._
    // a 40-node path: pointer jumping needs ~6 rounds, k = 2 peels one
    // end edge a side per round, and every Bellman–Ford round from one
    // end improves one node, so rounds 1..4 all run. The fixpoint is
    // read from the round state's checkpoint, not from a Σlabel,
    // count or isEmpty action of its own.
    val p = path(40)
    val cc = jobsPerRound(r => scala.util.Try(
      ConnectedComponents.run(ids(p), p, maxIters = r)))
    val kc = jobsPerRound(r => KCore.kCore(p, k = 2, maxRounds = r))
    val ss = jobsPerRound(r => Sssp.distances(ids(p),
      p.withColumn("len", lit(1L)), Seq(1L).toDF("id"), r))
    // with a separate fixpoint action, a round here ran 7 (cc), 5
    // (k-core) and 5 (sssp) jobs: each bound is one job fewer
    info(s"jobs per round: cc $cc, kcore $kc, sssp $ss")
    assert((cc ++ kc ++ ss).forall(_ > 0), "a round did not run")
    assert(cc.forall(_ <= 6), s"cc $cc")
    assert(kc.forall(_ <= 4), s"kcore $kc")
    assert(ss.forall(_ <= 4), s"sssp $ss")
  }

  test("a round state's statistics are its measured size, not an " +
      "estimate compounded over rounds") {
    val sc = spark.sparkContext
    for ((name, out) <- Seq(
        "Mis.luby" -> Mis.luby(ids(graph), directed, rounds = 3),
        "Pca.loadings" -> Pca.loadings(emb, dim = 4, iters = 3))) {
      val leaf = out.queryExecution.optimizedPlan.collectLeaves()
        .collect { case lr: LogicalRDD => lr }
      assert(leaf.size == 1, name)
      val measured = sc.getRDDStorageInfo.find(_.id == leaf.head.rdd.id)
        .map(i => BigInt(i.memSize + i.diskSize))
      assert(measured.contains(leaf.head.stats.sizeInBytes),
        s"$name: stats ${leaf.head.stats.sizeInBytes}, stored $measured")
    }
  }
}
