package graft.llm

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA leading component by power iteration, in the exact-integer
  * determinism contract of [[graft.graph.PageRank]] applied to a
  * LINEAR-ALGEBRA kernel: every quantity either an exact 64-bit
  * integer or the result of a SINGLE IEEE operation on exact
  * integers, so all iterations replay bit-identically in the oracle.
  *
  * Why it exists: the whitening / leading-direction preprocessor for
  * embedding pipelines (top-component removal is the standard
  * post-processing for sentence embeddings — Arora et al.'s "simple
  * but tough-to-beat" recipe — and PC scores are the 1-D curriculum /
  * slicing axis the corpus pack sorts by).
  *
  * Derivation (all exact):
  *  1. quantize: q = floor(component·10⁴ + 0.5) as BIGINT — the
  *     documented grid (components are O(1) floats, so q ≤ ~10⁴+).
  *  2. unnormalized covariance via the moment identity
  *     C_ij = N·Σq_i q_j − Σq_i·Σq_j (exact BIGINTs; the global
  *     scale factor N²·10⁸ cannot move the eigenvector).
  *  3. down-scale once: C' = C div D with D = maxAbs(C) div 10⁹ + 1,
  *     so every iteration product C'_ij·v_j (|v| ≤ 10⁶) stays ≤ 10¹⁵
  *     and the per-row Σ over `dim` terms ≤ ~10¹⁷ — inside BIGINT.
  *  4. iterate T times: y = C'·v (exact long sums, order-free);
  *     renormalize v' = floor(y_i/y_m·10⁶ + 0.5) where y_m is the
  *     value at the DETERMINISTIC pivot (max |y|, min index on ties)
  *     — two correctly-rounded BIGINT→DOUBLE casts, one IEEE divide,
  *     one multiply, one floor: deterministic cross-engine, and
  *     dividing by the SIGNED pivot also fixes the eigenvector's sign
  *     (pivot component = +10⁶).
  *
  * Scale shape: the only pass over the data is step 2 — a posexplode
  * to (vec_id, i, q) then a self-join per vector generating dim² rows
  * per vector that a (i, j)-keyed hash aggregate collapses with
  * map-side combine, so the shuffle carries ≤ dim² rows per map task
  * regardless of N; steps 3–4 run on the dim²-row covariance frame
  * (metadata-sized), one [[graft.Rounds]] state per iteration. Scoring ([[scores]]) is a second map-only pass with
  * the loading vector broadcast.
  */
object Pca {

  val grid = 10000L        // component quantization (1e-4 units)
  val vScale = 1000000L    // iteration vector grid (1e-6 units)

  /** (vec_id, i, q) exact quantized components. */
  private def quantized(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        floor(col("x") * grid + 0.5).cast("long").as("q"))

  /** The mergeable MOMENT state of a corpus: second moments
    * (i, j, s_ij), first moments (i, s_i), and the vector count — the
    * sketch-state form of the covariance (every field an exact long
    * SUM, so day-2 maintenance is `unionByName` + re-sum, the
    * [[graft.functions.HllFrame]] register contract on linear-algebra
    * state: merged moments answer IDENTICALLY to a one-pass build).
    */
  def moments(qs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val a = qs.select(col("vec_id"), col("i"), col("q"))
    val b = qs.select(col("vec_id").as("vid2"), col("i").as("j"),
      col("q").as("q2"))
    val sij = a.join(b, col("vec_id") === col("vid2"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("q") * col("q2")).as("s_ij"))
    val si = qs.groupBy(col("i")).agg(sum(col("q")).as("s_i"))
    val n = qs.agg(countDistinct(col("vec_id")).as("n"))
    (sij, si, n)
  }

  /** The down-scaled exact covariance frame (i, j, c) — dim² rows. */
  private def covScaled(qs: DataFrame): DataFrame = {
    val (sij, si, n) = moments(qs)
    covFromMoments(sij, si, n)
  }

  /** [[covScaled]] from an (optionally merged) moment state. */
  def covFromMoments(sij: DataFrame, si: DataFrame,
      n: DataFrame): DataFrame = {
    val c = sij
      .join(si, "i")
      .join(si.select(col("i").as("j"), col("s_i").as("s_j")), "j")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("n") * col("s_ij") - col("s_i") * col("s_j")).as("c0"))
    val d = broadcast(c.agg(
      expr("max(abs(c0)) div 1000000000L").as("dd")))
    // sign-safe down-scale: Spark's `div` truncates toward zero where
    // DuckDB's `//` floors, so they disagree on NEGATIVE covariances —
    // dividing magnitudes and re-applying the sign makes both engines
    // compute the identical nonnegative floor division
    c.crossJoin(d)
      .select(col("i"), col("j"),
        (signum(col("c0")).cast("long")
          * expr("abs(c0) div (dd + 1)")).as("c"))
  }

  /** Leading eigenvector loadings: (pos, loading_fp) — `dim` rows,
    * loading in 10⁻⁶ fixed-point units, pivot component = +10⁶. */
  def loadings(embeddings: DataFrame, dim: Int = Similarity.defaultDim,
      iters: Int = 8): DataFrame =
    loadingsFromCov(covScaled(quantized(embeddings, dim)), dim, iters)

  /** Day-2 maintenance of the PCA state: per-batch [[moments]] merged
    * by union + re-sum — exact long sums commute, so the merged state
    * yields loadings IDENTICAL to a one-pass build (the q249/q220
    * identical-answer contract on linear-algebra state). Day-2 cost =
    * the batch's moment pass + a ≤ dim²-row merge; the standing
    * corpus is never rescanned.
    */
  def loadingsDay2(old: DataFrame, batch: DataFrame,
      dim: Int = Similarity.defaultDim, iters: Int = 8): DataFrame = {
    val (aSij, aSi, aN) = moments(quantized(old, dim))
    val (bSij, bSi, bN) = moments(quantized(batch, dim))
    val sij = aSij.unionByName(bSij).groupBy(col("i"), col("j"))
      .agg(sum(col("s_ij")).as("s_ij"))
    val si = aSi.unionByName(bSi).groupBy(col("i"))
      .agg(sum(col("s_i")).as("s_i"))
    val n = aN.unionByName(bN).agg(sum(col("n")).as("n"))
    loadingsFromCov(covFromMoments(sij, si, n), dim, iters)
  }

  private def loadingsFromCov(cov0: DataFrame, dim: Int,
      iters: Int): DataFrame = Checkpoints.scoped {
    val spark = cov0.sparkSession
    import spark.implicits._
    val cov = Checkpoints(cov0)
    val v = Rounds.iterate((0 until dim).map(j => (j, vScale)).toDF("j", "v"),
        iters) { (v, _) =>
      val y = cov.join(v, "j")
        .groupBy(col("i")).agg(sum(col("c") * col("v")).as("y"))
      val pivot = broadcast(y
        .orderBy(abs(col("y")).desc, col("i")).limit(1)
        .select(col("y").as("ym")))
      y.crossJoin(pivot)
        .select(col("i").as("j"),
          when(col("ym") =!= 0,
            floor(col("y").cast("double") / col("ym").cast("double")
              * vScale + 0.5).cast("long"))
            .otherwise(lit(vScale)).as("v"))
    }(Rounds.fixed)
    v.select(col("j").cast("int").as("pos"), col("v").as("loading_fp"))
      .orderBy(col("pos"))
  }

  /** PC-1 score per vector: p = Σ_j q_j·loading_j — exact BIGINT in
    * 10⁻¹⁰ units (grid·vScale), map-only with the loadings broadcast. */
  def scores(embeddings: DataFrame, dim: Int = Similarity.defaultDim,
      iters: Int = 8): DataFrame = {
    val l = loadings(embeddings, dim, iters)
      .select(col("pos").as("i"), col("loading_fp"))
    quantized(embeddings, dim)
      .join(broadcast(l), "i")
      .groupBy(col("vec_id"))
      .agg(sum(col("q") * col("loading_fp")).as("pc1_fp"))
  }

  /** Unrolled DuckDB CTE chain replaying [[loadings]] exactly —
    * expects a CTE `q(vec_id, i, q)` in scope; emits `v$iters(j, v)`. */
  def oracleCte(dim: Int, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""y$k AS MATERIALIZED (
         |  SELECT c.i, sum(c.c * v.v) AS y
         |  FROM cov c JOIN v${k - 1} v ON c.j = v.j GROUP BY 1),
         |p$k AS MATERIALIZED (
         |  SELECT y AS ym FROM y$k ORDER BY abs(y) DESC, i LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT i AS j,
         |         CASE WHEN ym <> 0
         |              THEN CAST(floor(CAST(y AS DOUBLE)
         |                   / CAST(ym AS DOUBLE) * $vScale + 0.5)
         |                   AS BIGINT)
         |              ELSE $vScale END AS v
         |  FROM y$k, p$k)""".stripMargin
    }
    (s"""sij AS MATERIALIZED (
        |  SELECT a.i, b.i AS j, sum(a.q * b.q) AS s_ij
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |si AS MATERIALIZED (SELECT i, sum(q) AS s_i FROM q GROUP BY 1),
        |nn AS (SELECT count(DISTINCT vec_id) AS n FROM q),
        |c0 AS MATERIALIZED (
        |  SELECT s.i, s.j, nn.n * s.s_ij - a.s_i * b.s_i AS c0
        |  FROM sij s JOIN si a ON a.i = s.i JOIN si b ON b.i = s.j,
        |       nn),
        |dd AS (SELECT max(abs(c0)) // 1000000000 AS dd FROM c0),
        |cov AS MATERIALIZED (
        |  SELECT i, j,
        |         CAST(sign(c0) AS BIGINT) * (abs(c0) // (dd + 1)) AS c
        |  FROM c0, dd),
        |v0 AS (SELECT unnest(range($dim)) AS j, $vScale AS v)"""
      .stripMargin +: rounds).mkString(",\n")
  }

  /** The shared `q` CTE: quantization replayed on the parquet table. */
  def oracleQuantCte: String =
    s"""q AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS i,
       |         CAST(floor(v[i] * $grid + 0.5) AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
       |               generate_subscripts(embedding, 1) AS i
       |        FROM embeddings))""".stripMargin
}
