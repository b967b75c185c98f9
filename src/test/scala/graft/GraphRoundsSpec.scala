package graft

import graft.graph._
import graft.llm.{Bpe, Pca, Retrieval, Unigram}
import graft.ops.{ImplicitMf, Stats}
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

  /** A corpus whose words keep adjacent pairs for several merges. */
  private lazy val docs = {
    import spark.implicits._
    (1 to 12).map(i => (i.toLong,
      Seq("lower", "newest", "widest", "low", "hello", "world")
        .take(2 + i % 5).mkString(" "))).toDF("doc_id", "text")
  }

  /** (u, i, cnt) implicit-feedback counts. */
  private lazy val ratings = {
    import spark.implicits._
    (for (u <- 1L to 6L; i <- 10L to 14L if (u + i) % 3 != 0)
      yield (u, i, 1L + (u * i) % 4)).toDF("u", "i", "cnt")
  }

  /** (score, label) rows whose positive rate FALLS with the score bin,
    * so every PAV round up to bins − 1 merges a violating pair. */
  private def falling(bins: Int) = {
    import spark.implicits._
    (0 until bins).flatMap(b => (0 until bins).map(j =>
      ((b + 0.5) / bins, j >= b))).toDF("score", "label")
  }

  /** One frame reading both frames of a pair result. */
  private def both(ab: (DataFrame, DataFrame)): DataFrame = {
    def first(df: DataFrame) =
      df.select(col(df.columns.head).cast("string").as("v"))
    first(ab._1).unionByName(first(ab._2))
  }

  test("a round loop holds no checkpoint but what its result reads, " +
      "no GC") {
    import spark.implicits._
    val weighted = directed.withColumn("w", col("src") % 3 + 1)
    val seeds = Seq(1L, 2L).toDF("id")
    val ranked = Seq((100L, 1, 1L, 10.0), (100L, 2, 2L, 9.9),
        (100L, 3, 3L, 9.7), (200L, 1, 4L, 3.0), (200L, 2, 5L, 1.0))
      .toDF("query_id", "rank", "doc_id", "score")
    val series = (1 to 40).map(i => (i, (i * 7 % 11).toDouble))
      .toDF("k", "v")
    // every operator on Rounds; an entry point that opens no scope of
    // its own runs in one here, as a registry entry's would
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
      "Pca.loadings" -> (() => Pca.loadings(emb, dim = 4, iters = 3)),
      "Anf.neighborhood" -> (() => Anf.neighborhood(ids(graph),
        graph.select(col("a"), col("b")), 3)),
      "RandomWalk.walks" -> (() => RandomWalk.walks(graph, seeds, 3)),
      "Centrality.distSigma" -> (() => Checkpoints.scoped(
        Centrality.distSigma(graph, seeds, 3))),
      "Centrality.brandesTerms" -> (() => Checkpoints.scoped(
        both(Centrality.brandesTerms(graph, seeds, 3)))),
      "ImplicitMf.run" -> (() => Checkpoints.scoped(
        ImplicitMf.run(ratings, iters = 3))),
      "ImplicitMf.run2" -> (() => Checkpoints.scoped(
        ImplicitMf.run2(ratings, iters = 3))),
      "Bpe.bpeState" -> (() => Checkpoints.scoped(
        both(Bpe.bpeState(docs, 3)))),
      "Bpe.wordPieceState" -> (() => Checkpoints.scoped(
        both(Bpe.wordPieceState(docs, 3)))),
      "Unigram.train" -> (() => Checkpoints.scoped(
        both(Unigram.train(docs, emIters = 3)))),
      "Retrieval.mmrRerank" -> (() => Checkpoints.scoped(
        Retrieval.mmrRerank(ranked, docs, k = 3))),
      "Stats.pacf" -> (() => Checkpoints.scoped(
        Stats.pacf(series, "k", "v", 4))),
      "Stats.isotonicCalibration" -> (() => Checkpoints.scoped(
        Stats.isotonicCalibration(falling(4), "score", "label", 4))))
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

  test("a ported loop's peak storage grows with its rounds only by the " +
      "round frames its result reads") {
    def reads(dfs: Seq[DataFrame]): Int = dfs.flatMap(
      _.queryExecution.logical.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }).toSet.size
    // (peak RDDs stored during a run at `rounds`, checkpoints its
    // result reads); the scope frees the run's frames afterwards
    def run(rounds: Int)(f: Int => Seq[DataFrame]): (Int, Int) =
      Checkpoints.scoped {
        var read = 0
        val peak = TestSpark.peakStoredDuring { read = reads(f(rounds)) }
        (peak, read)
      }
    val loops: Seq[(String, Int => Seq[DataFrame])] = Seq(
      "ImplicitMf.run" -> (r => Seq(ImplicitMf.run(ratings, iters = r))),
      "Bpe.bpeState" -> { r =>
        val (merges, words) = Bpe.bpeState(docs, r)
        Seq(merges, words)
      },
      "Unigram.train" -> { r =>
        val (vocab, segs) = Unigram.train(docs, emIters = r)
        Seq(vocab, segs)
      },
      "Stats.isotonicCalibration" -> (r => Seq(Stats.isotonicCalibration(
        falling(r + 1), "score", "label", bins = r + 1))))
    val grown = loops.flatMap { case (name, f) =>
      val (peak2, read2) = run(2)(f)
      val (peak4, read4) = run(4)(f)
      info(s"$name: peak $peak2 -> $peak4, reads $read2 -> $read4")
      if (peak4 - peak2 <= read4 - read2) None
      else Some(s"$name: peak $peak2 -> $peak4, reads $read2 -> $read4")
    }
    assert(grown.isEmpty, grown.mkString("; "))
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
