package graft.queries

import graft.llm.Dedup

/** Shared DuckDB oracle SQL builders for parity-critical derivations.
  * Each lives here ONCE and is referenced by every query pack that
  * re-derives it (q66/q74/q82/q85/q92/q96 simhash bits; q78/q86/q92
  * md5-high-16-bits hashes) — a change that reaches one query's oracle
  * cannot silently miss another's.
  */
private[queries] object OracleSql {

  /** Per-bit simhash counters `c0..c{bits−1}` aggregated from an
    * md5-hex column `h`: bit j of a token is bit (3 − j%4) of hex
    * nibble j/4 — the [[graft.functions.SimHashFp]] definition at any
    * width ≤ 128.
    */
  def simhashColsN(bits: Int): String = (0 until bits).map { j =>
    s"sum((((strpos('0123456789abcdef', substr(h, ${1 + j / 4}, 1)) - 1)" +
      s" >> ${3 - j % 4}) & 1) * 2 - 1) AS c$j"
  }.mkString(",\n    ")

  /** The fingerprint bit string from the `c0..c{bits−1}` counters. */
  def simhashConcatN(bits: Int): String = (0 until bits).map(j =>
    s"CASE WHEN c$j > 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")

  /** The legacy 32-bit forms (q66/q92/q93 and the 32-bit pair CTEs). */
  val simhashCols: String = simhashColsN(Dedup.simhashBits)
  val simhashConcat: String = simhashConcatN(Dedup.simhashBits)

  /** Uniform fraction in [0, 1) from the first 12 nibbles of an md5
    * hex column — the [[graft.functions.BottomKByHash.kmvDistinct]]
    * value. Every nibble term and the 48-bit total are < 2^53, so the
    * double arithmetic is exact and matches the engine's
    * `conv(substring(md5, 1, 12), 16, 10) / 2^48` bit for bit.
    */
  def md5Frac48(hexCol: String): String = {
    val terms = (0 until 12).map { i =>
      val pow = math.pow(16, 11 - i).toLong
      s"(strpos('0123456789abcdef', substr($hexCol, ${i + 1}, 1)) - 1) * $pow.0"
    }.mkString("\n  + ")
    s"(($terms) / 281474976710656.0)"
  }

  /** First 48 md5 bits of a hex column as a BIGINT — the
    * [[graft.functions.BloomFrame]] position value before the `% m`
    * (the integer form of [[md5Frac48]]; every nibble term and the
    * total are < 2^53, so the double sum is exact before the cast).
    */
  def md5Int48(hexCol: String): String = {
    val terms = (0 until 12).map { i =>
      val pow = math.pow(16, 11 - i).toLong
      s"(strpos('0123456789abcdef', substr($hexCol, ${i + 1}, 1)) - 1) * $pow.0"
    }.mkString("\n  + ")
    s"CAST(($terms) AS BIGINT)"
  }

  /** `nNibbles` md5 nibbles of `hexCol` starting at 1-based nibble
    * `start`, big-endian, as a BIGINT (generalizes [[md5Int48]]; every
    * nibble term and the total stay < 2^53 for nNibbles ≤ 13, so the
    * double sum is exact before the cast) — the [[graft.functions
    * .HllFrame]] register/word split re-derived.
    */
  def md5IntN(hexCol: String, start: Int, nNibbles: Int): String = {
    val terms = (0 until nNibbles).map { i =>
      val pow = math.pow(16, nNibbles - 1 - i).toLong
      s"(strpos('0123456789abcdef', substr($hexCol, ${start + i}, 1)) - 1)" +
        s" * $pow.0"
    }.mkString("\n  + ")
    s"CAST(($terms) AS BIGINT)"
  }

  /** First 16 bits of an md5 hex column as an integer — the
    * deterministic uniform used by stratified sampling and shard
    * assignment ([[graft.llm.Corpus.hash16]]'s oracle form).
    */
  def md5High16(hexCol: String): String =
    s"""(strpos('0123456789abcdef', substr($hexCol, 1, 1)) - 1) * 4096
       |  + (strpos('0123456789abcdef', substr($hexCol, 2, 1)) - 1) * 256
       |  + (strpos('0123456789abcdef', substr($hexCol, 3, 1)) - 1) * 16
       |  + (strpos('0123456789abcdef', substr($hexCol, 4, 1)) - 1)"""
      .stripMargin

  /** Big-endian 32-bit word of an md5 hex column starting at nibble
    * `offset+1` (offset 0 → nibbles 1–8, offset 8 → nibbles 9–16) — the
    * seeds of [[graft.functions.MinHashSigMd5]]'s hash family. Each
    * nibble term is < 2^32 so the double `16 ** (8 − i)` powers and the
    * list_sum stay exact (< 2^53) before the BIGINT cast.
    */
  def md5Word32(hexCol: String, offset: Int): String =
    s"""CAST(list_sum(list_transform(range(1, 9),
       |      i -> (strpos('0123456789abcdef',
       |              substr($hexCol, CAST(i + $offset AS INT), 1)) - 1)
       |           * 16 ** (8 - i))) AS BIGINT)""".stripMargin

  /** Squared L2 distance between two DOUBLE[] columns of length `dim`
    * — [[graft.functions.SqDiffSum]]'s oracle form (same left-to-right
    * list_sum order as the fused kernel).
    */
  def sqDistSql(dim: Int, a: String, b: String): String =
    s"list_sum(list_transform(range($dim), " +
      s"i -> ($a[CAST(i AS INT) + 1] - $b[CAST(i AS INT) + 1]) " +
      s"* ($a[CAST(i AS INT) + 1] - $b[CAST(i AS INT) + 1])))"

  /** The Lloyd k-means CTE chain — the oracle form of
    * [[graft.llm.Similarity]]'s `lloydCells` (q71 IVF, q139 SemDeDup).
    * Expects an upstream CTE `n` = (vec_id, v, n2); contributes
    * `c0` (deterministic init: the nlist lowest vec_ids), `iters`
    * alternating assign/recompute steps, and a final assignment CTE
    * `af` = (vec_id, v, n2, cell). Splice between two other CTEs
    * (emits no leading/trailing comma).
    */
  def lloydChain(dim: Int, nlist: Int, iters: Int): String = {
    def assign(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, v, n2, cell FROM (
         |    SELECT e.vec_id, e.v, e.n2, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqDistSql(dim, "e.v", "c.c")}, c.cell) AS rk
         |    FROM n e, $cents c) WHERE rk = 1)""".stripMargin
    def recompute(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT cell, list(m ORDER BY i) AS c FROM (
         |    SELECT cell, i, avg(v[CAST(i AS INT) + 1]) AS m
         |    FROM $assigned, range($dim) t(i) GROUP BY cell, i)
         |  GROUP BY cell)""".stripMargin
    val init =
      s"""c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) AS cell,
         |         v AS c
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $nlist))"""
        .stripMargin
    val steps = (1 to iters).flatMap(i =>
      Seq(assign(s"c${i - 1}", s"a$i"), recompute(s"a$i", s"c$i")))
    (Seq(init) ++ steps :+ assign(s"c$iters", "af")).mkString(",\n")
  }

  /** The product-quantization codebook chain — oracle form of
    * [[graft.llm.Similarity.pqTopK]]'s per-subspace Lloyd. Expects an
    * upstream CTE `e` = (vec_id, v); contributes `subv` (exploded
    * (vec_id, j, sv) subvectors), `pc0` init (the ksub lowest vec_ids,
    * cells numbered by vec_id rank per subspace), `iters` alternating
    * assign/recompute steps ending in `pc$iters`, and the final code
    * assignment `paf` = (vec_id, j, cell). Splice between CTEs.
    */
  def pqChain(dim: Int, m: Int, ksub: Int, iters: Int): String = {
    val sub = dim / m
    def assign(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, j, sv, cell FROM (
         |    SELECT s.vec_id, s.j, s.sv, c.cell,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY ${sqDistSql(sub, "s.sv", "c.c")}, c.cell) AS rk
         |    FROM subv s JOIN $cents c ON s.j = c.j) WHERE rk = 1)"""
        .stripMargin
    def recompute(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT j, cell, list(mu ORDER BY i) AS c FROM (
         |    SELECT j, cell, i, avg(sv[CAST(i AS INT) + 1]) AS mu
         |    FROM $assigned, range($sub) t(i) GROUP BY j, cell, i)
         |  GROUP BY j, cell)""".stripMargin
    val subCte =
      s"""subv AS MATERIALIZED (
         |  SELECT vec_id, CAST(j AS INTEGER) AS j,
         |         v[(CAST(j AS INTEGER)*$sub+1):(CAST(j AS INTEGER)*$sub+$sub)]
         |           AS sv
         |  FROM e, range($m) t(j))""".stripMargin
    val init =
      s"""pc0 AS (
         |  SELECT j,
         |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id)
         |           AS INTEGER) AS cell,
         |         sv AS c
         |  FROM subv
         |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id
         |                   LIMIT $ksub))""".stripMargin
    val steps = (1 to iters).flatMap(i =>
      Seq(assign(s"pc${i - 1}", s"pa$i"), recompute(s"pa$i", s"pc$i")))
    (Seq(subCte, init) ++ steps :+ assign(s"pc$iters", "paf"))
      .mkString(",\n")
  }

  /** The 64 per-family `min(...)` signature aggregates over `(x1, x2)`
    * word columns — literal multipliers interpolated from the SAME
    * [[graft.functions.MinHashSigMd5]] constants the engine uses.
    */
  def minhashSigCols(k: Int): String = {
    import graft.functions.MinHashSigMd5.{M, a, b}
    (0 until k).map { j =>
      s"min(((${a(j)} * x1) % $M + (${b(j)} * x2) % $M + $j) % $M) AS h$j"
    }.mkString(",\n    ")
  }

  /** [[graft.graph.Mis.luby]]'s rounds unrolled (q405 over the
    * co-purchase graph, q409 over the near-dup graph — generator so
    * round count and priority salt stay in lockstep with
    * graph/Mis.scala). Expects upstream CTEs `e(u, v)` (SYMMETRIC
    * edge list) and `a0(id)` (initial active set); emits round CTEs
    * `p1..a{rounds}` plus `mis_state(id, state)` over a0. Each round:
    * priorities over the active set → min active-neighbor
    * (priority, id) via a window → winners by row-value compare →
    * neighborhood exclusion → next active set. Winners never collide
    * with exclusions across rounds (a later winner can never neighbor
    * an earlier one — it would have been deactivated), so the state
    * CASE is order-free.
    */
  def lubyMisCtes(rounds: Int): String = {
    def pri(r: Int) =
      md5Int48(s"md5('mis$r:' || CAST(id AS VARCHAR))")
    def round(r: Int): String =
      s"""p$r AS MATERIALIZED (
         |  SELECT id, ${pri(r)} AS p FROM a${r - 1}),
         |nb$r AS (
         |  SELECT id, pd, did FROM (
         |    SELECT e.u AS id, p2.p AS pd, p2.id AS did,
         |           row_number() OVER (PARTITION BY e.u
         |             ORDER BY p2.p, p2.id) AS rn
         |    FROM e JOIN p$r p2 ON p2.id = e.v
         |           JOIN p$r p1 ON p1.id = e.u)
         |  WHERE rn = 1),
         |w$r AS MATERIALIZED (
         |  SELECT p.id FROM p$r p LEFT JOIN nb$r n USING (id)
         |  WHERE n.id IS NULL OR (p.p, p.id) < (n.pd, n.did)),
         |x$r AS MATERIALIZED (
         |  SELECT DISTINCT e.v AS id FROM e JOIN w$r w ON e.u = w.id),
         |a$r AS MATERIALIZED (
         |  SELECT id FROM a${r - 1}
         |  WHERE id NOT IN (SELECT id FROM w$r)
         |    AND id NOT IN (SELECT id FROM x$r))""".stripMargin
    val ws = (1 to rounds).map(r => s"SELECT id FROM w$r")
      .mkString(" UNION ALL ")
    val xs = (1 to rounds).map(r => s"SELECT id FROM x$r")
      .mkString(" UNION ALL ")
    s"""${(1 to rounds).map(round).mkString(",\n")},
       |mis_state AS (
       |  SELECT id,
       |    CAST(CASE WHEN id IN ($ws) THEN 1
       |      WHEN id IN ($xs) THEN -1
       |      ELSE 0 END AS INTEGER) AS state
       |  FROM a0)""".stripMargin
  }
}
