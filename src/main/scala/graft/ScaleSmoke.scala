package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic ×K scale smoke for the bench-floor families (graph,
  * delta-dedup, span extraction): deterministically blow the sf0.1
  * fixtures up K-fold — no new testdata, every derived row a pure
  * function of an existing row and its replica index — drive the
  * heavy operators end-to-end at local[32], and print a wall-time
  * table for SCALE.md. Completion with no driver-side
  * materialization (the only collect is the 1-row hash sink, the
  * Bench discipline) is the assertion; the wall-times document HOW
  * the cost grows.
  *
  * Blow-up rules:
  *  - lineitem/part: replica r shifts both orderkey and partkey by
  *    r·10⁹ — the co-purchase graph becomes K disjoint copies (K× the
  *    nodes, edges, wedges and triangles: tests the O(|E|^1.5) wedge
  *    machinery and the K× iterative frontier, not a density change);
  *  - documents: replica r gets doc_id + r·10⁹ and a `repN` token
  *    PREPENDED — offsets shift, content survives — so the near-dup
  *    families see K× docs whose shingles/anchors collide ACROSS
  *    replicas (the df-cap / prefix-filter stress: the candidate
  *    space grows K² per hot key unless the caps bound it — which is
  *    exactly what this smoke demonstrates).
  *
  * Usage: SPARK_GRAFT_SF_DIR (default sf0.1), args(0) = K (default 10).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = if (args.nonEmpty) args(0).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // At ×K data, per-partition shuffle blocks grow K-fold under a
    // fixed partition count — the knob a real cluster turns with data
    // volume. Overridable so the smoke can DEMONSTRATE the knob.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SessionTuning.local(cpus, shuffleParts, "WARN")
    val shift = 1000000000L

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(k).select(col("id").as("rep")))

    val li = reps(Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")))
      .select((col("l_orderkey") + col("rep") * shift).as("l_orderkey"),
        (col("l_partkey") + col("rep") * shift).as("l_partkey"))
    val part = reps(Tables.load(spark, sfDir, "part")
        .select(col("p_partkey")))
      .select((col("p_partkey") + col("rep") * shift).as("id"))
    val docs = reps(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")))
      .select((col("doc_id") + col("rep") * shift).as("doc_id"),
        concat(concat(lit("rep"), col("rep")), lit(" "), col("text"))
          .as("text"))

    def sink(df: DataFrame): Long = {
      val r = df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1)).as("n")).collect()(0)
      r.getLong(1)
    }
    def time(name: String)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = sink(f)
      println(f"SMOKE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s  rows=$n")
    }

    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("a"), col("b.l_partkey").as("b"))
      .agg(count(lit(1)).as("w"))
      .transform(Checkpoints(_))
    val edges = pairs.drop("w")

    println(s"SMOKE config sf=$sfDir k=$k shuffle=$shuffleParts")
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").toSet)
    def run(name: String)(f: => DataFrame): Unit =
      if (only.forall(_.contains(name))) time(name)(f)
    run("triangles_q172")(graft.graph.Triangles.perNode(edges))
    run("clustering_coef_q183")(graft.graph.Triangles.clusteringCoef(edges))
    run("pagerank_weighted_q235")(graft.graph.PageRank.runWeighted(
      part, pairs.select(col("a").as("src"), col("b").as("dst"), col("w")),
      iters = 5))
    run("jaccard_delta_q95")(graft.llm.Dedup.jaccardPairsDelta(
      docs, col("doc_id") % 3 === 0))
    run("jaccard_delta_bloom_q157")(graft.llm.Dedup.jaccardPairsDeltaBloom(
      docs, col("doc_id") % 3 === 0))
    run("simhash_pairs_q74")(graft.llm.Dedup.simhashPairs(docs))
    run("winnowed_pairs_q113")(graft.llm.Dedup.winnowedPairs(docs))
    run("dup_spans_q236")(graft.llm.Dedup.duplicateSpans(docs))
    run("fastcdc_dedup_q240")(graft.llm.Dedup.fastCdcDedup(docs))
    run("ppr_q252")(graft.graph.PageRank.runPersonalized(
      part, edges.select(col("a").as("src"), col("b").as("dst")),
      part.where(col("id") % 500 === 0), iters = 5))
    run("ktruss_q267")(graft.graph.Truss.kTruss(
      pairs.where(col("w") >= 2).select(col("a"), col("b")),
      k = 3, rounds = 3))
    run("label_prop_q269")(graft.graph.LabelProp.run(
      pairs.where(col("w") >= 2).select(col("a"), col("b")),
      rounds = 4))
    run("random_walks_q270")(graft.graph.RandomWalk.walks(
      edges, part.where(col("id") % 100 === 0), steps = 4))
    run("sorted_neighborhood_q279")(
      graft.llm.Dedup.sortedNeighborhoodPairs(docs))
    run("louvain_q295")(graft.graph.Louvain.oneLevel(
      pairs.where(col("w") >= 2).select(col("a"), col("b")),
      rounds = 4))
    run("hop_plot_q315")(graft.graph.Bfs.hopPlot(
      part, edges, part.where(col("id") % 500 === 0), rounds = 4))
    run("louvain_2level_q324")(graft.graph.Louvain.twoLevel(
      pairs.where(col("w") >= 2).select(col("a"), col("b")), 4, 4))
    run("anf_q325")(graft.graph.Anf.neighborhood(
      part, pairs.where(col("w") >= 2).select(col("a"), col("b")),
      rounds = 4))
    run("span_cut_first_q328")(
      graft.llm.Dedup.cutSpansAllButFirst(docs))
    run("betweenness_q358")(graft.graph.Centrality.betweennessSeeded(
      part, edges, part.where(col("id") % 500 === 0), rounds = 3))
    run("rouge_q357")(graft.llm.TextOps.rougePairs(docs,
      graft.llm.Dedup.jaccardPairsPrefix(docs)
        .select(col("da"), col("db"))))
    spark.stop()
  }
}
