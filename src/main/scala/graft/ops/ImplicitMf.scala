package graft.ops

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ALS-style implicit-feedback matrix factorization (Hu, Koren &
  * Volinsky 2008) at rank 1, in EXACT fixed-point integer arithmetic —
  * the model-based recommendation member beside q265's neighborhood
  * item-CF: each user and item gets a latent affinity factor fit by
  * alternating least squares over purchase counts, with the paper's
  * implicit-feedback weighting (confidence c = 1 + α·r toward
  * preference 1 on observed cells, confidence 1 toward 0 everywhere
  * else).
  *
  * At rank 1 the per-entity normal equation is scalar, so the ALS
  * solve is plain grouped arithmetic:
  *
  *   u = Σ_obs(c·v) / (λ + G + Σ_obs((c−1)·v²)),  G = Σ_ALL items v²
  *
  * — the Σ_ALL term is the paper's dense-part trick (every unobserved
  * cell contributes confidence-1 toward 0), carried as ONE global
  * scalar instead of a dense cross join. The item step is symmetric.
  *
  * Determinism (the q170/q254 fixed-point discipline): confidences
  * and factors are integers; every sum is an exact decimal(38,0)
  * (order-independent — the HUGEINT twin on the oracle side); the
  * solve is integer floor-division; each half-step renormalizes to
  * max = 10⁶ by another exact integer division, which keeps
  * magnitudes data-independent across rounds. Both engines run the
  * identical integer recursion, so all `iters` rounds sit bit-exact
  * under the hash gate with no float hedge — the oracle unrolls the
  * rounds as MATERIALIZED CTEs ([[oracleSql]]).
  *
  * Nonnegativity: counts, confidences and the uniform seed are
  * positive, so every numerator/denominator stays positive and the
  * factorization is NMF-like — factors order entities by co-purchase
  * engagement (spec-pinned on a planted block structure).
  *
  * Scale shape: the ratings frame is built once and checkpointed;
  * each half-step is one equi-join of ratings against the ≤|entities|
  * factor frame plus one grouped sum — the standard distributed-ALS
  * shuffle (ratings partitioned by the solve side's key), with the
  * two global scalars (G, max) attached by broadcast. No driver-side
  * math, no collect, iterations bounded by `iters`.
  */
object ImplicitMf {

  /** Factor fixed-point scale (f ∈ [0, 10⁶] after renormalization). */
  private val scaleFp = "1000000"

  /** λ = 1 in factor² units (factors carry 10⁶, so λ·SCALE² = 10¹²). */
  private val lambdaFp = "1000000000000"

  /** @param ratings (u, i, cnt) implicit-feedback counts, cnt ≥ 1
    * @return (kind 'user'|'item', id, f) — integer factors in
    *         [0, 10⁶], max per kind exactly 10⁶
    */
  def run(ratings: DataFrame, alpha: Long = 10L,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, "implicit MF needs at least one round")
    val r = ratings.select(col("u"), col("i"),
        (lit(1L) + lit(alpha) * col("cnt")).cast("decimal(38,0)").as("c"))
      .transform(Checkpoints(_))
    var v = r.select(col("i").as("id")).distinct()
      .select(col("id"), expr(s"cast($scaleFp as decimal(38,0))").as("f"))
    var u: DataFrame = null
    for (_ <- 1 to iters) {
      u = halfStep(r, v, solveUsers = true)
      v = halfStep(r, u, solveUsers = false)
    }
    u.select(lit("user").as("kind"), col("id"),
        col("f").cast("long").as("f"))
      .unionByName(v.select(lit("item").as("kind"), col("id"),
        col("f").cast("long").as("f")))
  }

  /** One ALS half-step: solve every entity on `solve`'s side against
    * the other side's fixed factors. Exact decimal sums, integer
    * floor-div solve, integer renormalization to max = 10⁶.
    */
  private def halfStep(r: DataFrame, other: DataFrame,
      solveUsers: Boolean): DataFrame = {
    val (kc, oc) = if (solveUsers) ("u", "i") else ("i", "u")
    val g = other.agg(
      sum(expr("f * f")).cast("decimal(38,0)").as("g"))
    val agg = r.join(other.select(col("id").as(oc), col("f")), oc)
      .groupBy(col(kc).as("id"))
      .agg(sum(expr("c * f")).cast("decimal(38,0)").as("num"),
        sum(expr("(c - 1) * f * f")).cast("decimal(38,0)").as("den2"))
    val raw = agg.crossJoin(broadcast(g))
      .select(col("id"),
        expr(s"num * $lambdaFp div " +
          s"(cast($lambdaFp as decimal(38,0)) + g + den2)").as("fr"))
    val mx = raw.agg(max(col("fr")).as("mx"))
    raw.crossJoin(broadcast(mx))
      .select(col("id"),
        expr(s"cast(fr as decimal(38,0)) * $scaleFp div mx")
          .cast("decimal(38,0)").as("f"))
      .transform(Checkpoints(_))
  }

  /** Rank-2 ALS (the r14 verdict's "rank-k generalization shuffles
    * k-vectors and solves k×k systems per entity — same join/agg
    * shape" claim, proven): each entity carries a latent 2-VECTOR,
    * each half-step solves the 2×2 normal equation
    *
    *   (λI + G + Σ_obs (c−1)·y yᵀ) x = Σ_obs c·y,   G = Σ_ALL y yᵀ
    *
    * by CRAMER with exact integers (the q391 logistic-Newton
    * discipline): the three dense-part moments (g11, g12, g22) ride
    * as broadcast scalars — rank k carries k(k+1)/2 of them, never a
    * dense cross join — and the per-entity solve is
    *
    *   det = a11·a22 − a12²  (> 0: A = λI + YᵀCY is positive
    *         definite, and Cauchy–Schwarz holds EXACTLY on the
    *         integer sums, so the integer det inherits λ·tr + λ² > 0)
    *   x1 = (b1·a22 − b2·a12)·10¹² div det
    *   x2 = (b2·a11 − b1·a12)·10¹² div det
    *
    * Unlike rank 1 the factors are SIGNED, so determinism needs one
    * more check than nonnegativity gave for free: Spark `div` and
    * DuckDB `//` both truncate toward zero (spec-pinned), and each
    * column renormalizes by max(|x|) (positive), so the truncated
    * quantization agrees bit-exact on negatives too.
    *
    * Symmetry breaking: a uniform seed would keep every item
    * identical and collapse rank 2 to rank 1, so the second
    * coordinate seeds deterministically per id
    * (f2 = (SCALE div 8)·(1 + id mod 7)) — same expression in both
    * engines, no randomness.
    *
    * Headroom: the Cramer numerators peak near Σc·f · a ≈ 10³⁶–10³⁷
    * at fixture scale — inside decimal(38,0)/HUGEINT; a 100 TB run
    * re-scales SCALE to 10⁵ (or solves in two stages) before the
    * product can reach 10³⁸ (see SCALE.md).
    *
    * @return (kind 'user'|'item', id, f1, f2) — integer factors,
    *         each column renormalized to max |f| = 10⁶
    */
  def run2(ratings: DataFrame, alpha: Long = 10L,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, "implicit MF needs at least one round")
    val r = ratings.select(col("u"), col("i"),
        (lit(1L) + lit(alpha) * col("cnt")).cast("decimal(38,0)").as("c"))
      .transform(Checkpoints(_))
    var v = r.select(col("i").as("id")).distinct()
      .select(col("id"),
        expr(s"cast($scaleFp as decimal(38,0))").as("f1"),
        expr(s"cast(($scaleFp div 8) * (1 + id % 7) as decimal(38,0))")
          .as("f2"))
    var u: DataFrame = null
    for (_ <- 1 to iters) {
      u = halfStep2(r, v, solveUsers = true)
      v = halfStep2(r, u, solveUsers = false)
    }
    def out(df: DataFrame, kind: String) =
      df.select(lit(kind).as("kind"), col("id"),
        col("f1").cast("long").as("f1"), col("f2").cast("long").as("f2"))
    out(u, "user").unionByName(out(v, "item"))
  }

  /** One rank-2 half-step: 5 grouped sums per entity + 3 broadcast
    * dense-part scalars, a Cramer 2×2 integer solve, per-column
    * integer renormalization to max |f| = 10⁶.
    */
  private def halfStep2(r: DataFrame, other: DataFrame,
      solveUsers: Boolean): DataFrame = {
    val (kc, oc) = if (solveUsers) ("u", "i") else ("i", "u")
    val g = other.agg(
      sum(expr("f1 * f1")).cast("decimal(38,0)").as("g11"),
      sum(expr("f1 * f2")).cast("decimal(38,0)").as("g12"),
      sum(expr("f2 * f2")).cast("decimal(38,0)").as("g22"))
    val agg = r.join(
        other.select(col("id").as(oc), col("f1"), col("f2")), oc)
      .groupBy(col(kc).as("id"))
      .agg(sum(expr("c * f1")).cast("decimal(38,0)").as("b1"),
        sum(expr("c * f2")).cast("decimal(38,0)").as("b2"),
        sum(expr("(c - 1) * f1 * f1")).cast("decimal(38,0)").as("s11"),
        sum(expr("(c - 1) * f1 * f2")).cast("decimal(38,0)").as("s12"),
        sum(expr("(c - 1) * f2 * f2")).cast("decimal(38,0)").as("s22"))
    val raw = agg.crossJoin(broadcast(g))
      .withColumn("a11", expr(s"cast($lambdaFp as decimal(38,0)) + g11 + s11"))
      .withColumn("a12", expr("g12 + s12"))
      .withColumn("a22", expr(s"cast($lambdaFp as decimal(38,0)) + g22 + s22"))
      .withColumn("det", expr("a11 * a22 - a12 * a12"))
      // LOUD overflow guard (r15 advice): decimal(38,0) overflow is
      // non-ANSI NULL on the Spark side while the DuckDB HUGEINT twin
      // raises — a grown fixture would fail asymmetrically (silent
      // NULL factors vs oracle error). Two overflow points, both
      // bounded via cheap double approximations (order-of-magnitude
      // accuracy is all a loudness guard needs): each b·a product must
      // stay under 1e38 (the intermediate decimal multiply), and the
      // Cramer difference must stay under 1e38/lambdaFp = 1e26 (the
      // ×lambdaFp numerator scaling below). When either bound trips
      // the Spark side now fails as loudly as the oracle.
      .where(expr(
        "assert_true(abs(cast(b1 as double)) * abs(cast(a22 as double))" +
          " < 4.9e37 and abs(cast(b2 as double)) * abs(cast(a12 as double))" +
          " < 4.9e37 and abs(cast(b2 as double)) * abs(cast(a11 as double))" +
          " < 4.9e37 and abs(cast(b1 as double)) * abs(cast(a12 as double))" +
          " < 4.9e37" +
          " and abs(cast(b1 as double) * cast(a22 as double)" +
          " - cast(b2 as double) * cast(a12 as double)) < 4.9e25" +
          " and abs(cast(b2 as double) * cast(a11 as double)" +
          " - cast(b1 as double) * cast(a12 as double)) < 4.9e25," +
          " 'mf2 Cramer numerator approaching decimal(38,0) overflow')" +
          " is null"))
      .select(col("id"),
        expr(s"(b1 * a22 - b2 * a12) * $lambdaFp div det").as("x1"),
        expr(s"(b2 * a11 - b1 * a12) * $lambdaFp div det").as("x2"))
    val mx = raw.agg(greatest(max(abs(col("x1"))), lit(1L)).as("m1"),
      greatest(max(abs(col("x2"))), lit(1L)).as("m2"))
    raw.crossJoin(broadcast(mx))
      .select(col("id"),
        expr(s"cast(x1 as decimal(38,0)) * $scaleFp div m1")
          .cast("decimal(38,0)").as("f1"),
        expr(s"cast(x2 as decimal(38,0)) * $scaleFp div m2")
          .cast("decimal(38,0)").as("f2"))
      .transform(Checkpoints(_))
  }

  /** Rank-2 rounds unrolled as DuckDB MATERIALIZED CTEs (HUGEINT
    * twin of [[run2]]); the caller selects from `u{iters}`/`v{iters}`.
    */
  def oracleCte2(alpha: Long = 10L, iters: Int = 2): String = {
    def half(out: String, in: String, key: String, ok: String): String =
      s"""g_$out AS (SELECT CAST(sum(f1 * f1) AS HUGEINT) AS g11,
         |        CAST(sum(f1 * f2) AS HUGEINT) AS g12,
         |        CAST(sum(f2 * f2) AS HUGEINT) AS g22 FROM $in),
         |a_$out AS (SELECT r.$key AS id,
         |        CAST(sum(r.c * x.f1) AS HUGEINT) AS b1,
         |        CAST(sum(r.c * x.f2) AS HUGEINT) AS b2,
         |        CAST(sum((r.c - 1) * x.f1 * x.f1) AS HUGEINT) AS s11,
         |        CAST(sum((r.c - 1) * x.f1 * x.f2) AS HUGEINT) AS s12,
         |        CAST(sum((r.c - 1) * x.f2 * x.f2) AS HUGEINT) AS s22
         |      FROM r JOIN $in x ON x.id = r.$ok GROUP BY 1),
         |x_$out AS (SELECT id,
         |        (b1 * (CAST($lambdaFp AS HUGEINT) + g22 + s22)
         |           - b2 * (g12 + s12)) * CAST($lambdaFp AS HUGEINT)
         |          // ((CAST($lambdaFp AS HUGEINT) + g11 + s11)
         |               * (CAST($lambdaFp AS HUGEINT) + g22 + s22)
         |             - (g12 + s12) * (g12 + s12)) AS x1,
         |        (b2 * (CAST($lambdaFp AS HUGEINT) + g11 + s11)
         |           - b1 * (g12 + s12)) * CAST($lambdaFp AS HUGEINT)
         |          // ((CAST($lambdaFp AS HUGEINT) + g11 + s11)
         |               * (CAST($lambdaFp AS HUGEINT) + g22 + s22)
         |             - (g12 + s12) * (g12 + s12)) AS x2
         |      FROM a_$out, g_$out),
         |m_$out AS (SELECT greatest(max(abs(x1)), 1) AS m1,
         |        greatest(max(abs(x2)), 1) AS m2 FROM x_$out),
         |$out AS MATERIALIZED (SELECT id, x1 * $scaleFp // m1 AS f1,
         |        x2 * $scaleFp // m2 AS f2
         |      FROM x_$out, m_$out)""".stripMargin
    val rounds = (1 to iters).map { k =>
      half(s"u$k", s"v${k - 1}", "u", "i") + ",\n" +
        half(s"v$k", s"u$k", "i", "u")
    }.mkString(",\n")
    s"""r AS MATERIALIZED (
       |  SELECT o_custkey AS u, l_partkey AS i,
       |         CAST(1 + $alpha * count(*) AS HUGEINT) AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT i AS id,
       |       CAST($scaleFp AS HUGEINT) AS f1,
       |       CAST(($scaleFp // 8) * (1 + i % 7) AS HUGEINT) AS f2
       |       FROM r),
       |$rounds""".stripMargin
  }

  /** The rounds unrolled as DuckDB MATERIALIZED CTEs over the same
    * integer recursion (HUGEINT where Spark carries decimal(38,0)).
    * Emits `r`, `v0` and per-round `u{k}`/`v{k}`; the caller selects
    * from `u{iters}` and `v{iters}`.
    */
  def oracleCte(alpha: Long = 10L, iters: Int = 2): String = {
    def half(out: String, in: String, key: String, ok: String): String =
      s"""g_$out AS (SELECT CAST(sum(f * f) AS HUGEINT) AS g FROM $in),
         |a_$out AS (SELECT r.$key AS id,
         |        CAST(sum(r.c * x.f) AS HUGEINT) AS num,
         |        CAST(sum((r.c - 1) * x.f * x.f) AS HUGEINT) AS den2
         |      FROM r JOIN $in x ON x.id = r.$ok GROUP BY 1),
         |x_$out AS (SELECT id,
         |        num * CAST($lambdaFp AS HUGEINT)
         |          // (CAST($lambdaFp AS HUGEINT) + g + den2) AS fr
         |      FROM a_$out, g_$out),
         |m_$out AS (SELECT max(fr) AS mx FROM x_$out),
         |$out AS MATERIALIZED (SELECT id, fr * $scaleFp // mx AS f
         |      FROM x_$out, m_$out)""".stripMargin
    val rounds = (1 to iters).map { k =>
      half(s"u$k", s"v${k - 1}", "u", "i") + ",\n" +
        half(s"v$k", s"u$k", "i", "u")
    }.mkString(",\n")
    s"""r AS MATERIALIZED (
       |  SELECT o_custkey AS u, l_partkey AS i,
       |         CAST(1 + $alpha * count(*) AS HUGEINT) AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT i AS id,
       |       CAST($scaleFp AS HUGEINT) AS f FROM r),
       |$rounds""".stripMargin
  }
}
