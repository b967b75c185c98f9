package graft.graph

import graft.{Checkpoints, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg) hubs & authorities in exact fixed-point integers
  * — the [[PageRank]] determinism contract applied to the OTHER
  * classic link-analysis algorithm, on a directed (here bipartite
  * customer→part) graph where the two scores genuinely differ: a hub
  * is a buyer whose basket concentrates on authoritative parts, an
  * authority is a part bought by strong hubs.
  *
  * Per round (mutual recursion, fixed count):
  *   auth_i = Σ_{j→i} hub_j     hub_j = Σ_{j→i} auth_i
  * each sum exact 64-bit (order-free); after each half-round the
  * vector renormalizes to a 10⁻⁶ grid by its DETERMINISTIC pivot
  * (max value, min id on ties — all values nonnegative):
  * v' = floor(v/pivot·10⁶ + 0.5) — two correctly-rounded
  * BIGINT→DOUBLE casts, one IEEE divide, one multiply, one floor, so
  * every round replays bit-identically in the oracle (the
  * [[graft.llm.Pca]] pivot discipline; L2 normalization would put a
  * cross-engine sqrt inside the loop — the pivot norm is the
  * determinism-safe equivalent for ranking purposes).
  *
  * Scale shape: each half-round is one equi-join of the edge list
  * against a score frame + a dst- (or src-)keyed long-sum with
  * map-side partials + the broadcast 1-row pivot; the hub frame is
  * the [[graft.Rounds]] state. Nodes without in-(out-)edges keep
  * score 0 via the spine left join.
  */
object Hits {

  val scale = 1000000L // 10^-6 fixed point

  /** @param hubs  hub-side vertex spine, column `id`
    * @param auths authority-side vertex spine, column `id`
    * @param edges directed (`src` ∈ hubs, `dst` ∈ auths), pre-deduped
    * @return (id, kind, score_fp): kind `hub` for the src side,
    *         `auth` for the dst side, score in 10⁻⁶ units
    */
  def run(hubs: DataFrame, auths: DataFrame, edges: DataFrame,
      iters: Int = 5): DataFrame = Checkpoints.scoped {
    val e = Checkpoints(edges.select(col("src"), col("dst")))
    val hSpine = hubs.select(col("id"))
    val aSpine = auths.select(col("id"))
    def renorm(scores: DataFrame): DataFrame = {
      val pivot = broadcast(scores
        .orderBy(col("s").desc, col("id")).limit(1)
        .select(col("s").as("pv")))
      scores.crossJoin(pivot)
        .select(col("id"),
          when(col("pv") > 0,
            floor(col("s").cast("double") / col("pv").cast("double")
              * scale + 0.5).cast("long"))
            .otherwise(col("s")).as("s"))
    }
    def auth(h: DataFrame): DataFrame = {
      val aSums = e.join(h, col("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("s")).as("t"))
      renorm(aSpine
        .join(aSums, col("id") === col("dst"), "left_outer")
        .select(col("id"), coalesce(col("t"), lit(0L)).as("s")))
    }
    def hub(a: DataFrame): DataFrame = {
      val hSums = e.join(a, col("dst") === col("id"))
        .groupBy(col("src")).agg(sum(col("s")).as("t"))
      renorm(hSpine
        .join(hSums, col("id") === col("src"), "left_outer")
        .select(col("id"), coalesce(col("t"), lit(0L)).as("s")))
    }
    // ONE materialization per full round (r17, guide §1.2): the
    // half-round auth frame stays LAZY — h's checkpoint action
    // evaluates it exactly once (its heavy aggregate is shared with
    // its pivot subquery via exchange reuse, the r16 finding), so
    // eagerly copying it out too only doubled the job count. Lineage
    // stays bounded at depth 2. The LAST auth frame is checkpointed
    // because the output union reads it directly, so the last round
    // runs after the loop.
    val hPrev = Rounds.iterate(hSpine.select(col("id"), lit(scale).as("s")),
      iters - 1)((h, _) => hub(auth(h)))(Rounds.fixed)
    val a = Checkpoints(auth(hPrev))
    val h = Checkpoints(hub(a))
    h.select(col("id"), lit("hub").as("kind"), col("s").as("score_fp"))
      .unionByName(a.select(col("id"), lit("auth").as("kind"),
        col("s").as("score_fp")))
  }

  /** Unrolled DuckDB CTE chain replaying [[run]] exactly — expects
    * CTEs `hs(id)`, `as_(id)`, `e(src, dst)` in scope; emits
    * `h$iters` and `a$iters`. */
  def oracleCte(iters: Int): String = {
    def norm(src: String, out: String) =
      s"""${out}p AS (SELECT s AS pv FROM $src
         |        ORDER BY s DESC, id LIMIT 1),
         |$out AS MATERIALIZED (
         |  SELECT id, CASE WHEN pv > 0
         |    THEN CAST(floor(CAST(s AS DOUBLE) / CAST(pv AS DOUBLE)
         |         * $scale + 0.5) AS BIGINT)
         |    ELSE s END AS s
         |  FROM $src, ${out}p)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""a${k}r AS (
         |  SELECT a.id, CAST(coalesce(x.t, 0) AS BIGINT) AS s
         |  FROM as_ a LEFT JOIN (
         |    SELECT e.dst, sum(h.s) AS t FROM e
         |    JOIN h${k - 1} h ON e.src = h.id GROUP BY 1) x
         |  ON a.id = x.dst),
         |${norm(s"a${k}r", s"a$k")},
         |h${k}r AS (
         |  SELECT hh.id, CAST(coalesce(x.t, 0) AS BIGINT) AS s
         |  FROM hs hh LEFT JOIN (
         |    SELECT e.src, sum(a.s) AS t FROM e
         |    JOIN a$k a ON e.dst = a.id GROUP BY 1) x
         |  ON hh.id = x.src),
         |${norm(s"h${k}r", s"h$k")}""".stripMargin
    }
    (s"h0 AS (SELECT id, CAST($scale AS BIGINT) AS s FROM hs)" +:
      rounds).mkString(",\n")
  }
}
