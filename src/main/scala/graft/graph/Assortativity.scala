package graft.graph

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree assortativity — Newman 2002's degree-correlation
  * coefficient: the Pearson correlation of endpoint degrees over the
  * edge set. r > 0 means hubs attach to hubs (social networks),
  * r < 0 means hubs attach to leaves (technological / co-purchase
  * graphs) — the one-number mixing summary that tells you whether
  * hub-targeted sampling or degree-salting is the right 100 TB move
  * before running anything heavier.
  *
  * Operates on the DISTINCT directed SYMMETRIC pair set (both
  * orientations present, the repo's graph contract), which makes the
  * correlation symmetric by construction — no half-edge bookkeeping.
  *
  * Determinism: degrees are exact integer counts; the six moments
  * over the edge frame ride DECIMAL(38,0) off ONE map-side-combined
  * aggregate (the [[graft.ops.Stats.spearman]] shape); r is one
  * fixed IEEE sequence, round-4 at the edge, NULL when either degree
  * variance is 0 (a regular graph has no mixing to correlate —
  * never an ANSI fault).
  *
  * Scale shape: one degree groupBy (map-side combined), one src-keyed
  * and one dst-keyed equi-join to attach degrees, one single-row
  * aggregate — no window, no sort, O(|E|) shuffle.
  */
object Assortativity {

  /** @param edges (a, b) distinct directed symmetric pairs
    * @return one row (m_edges, r) — m_edges the DIRECTED edge count
    */
  def degreeCorrelation(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
      .transform(Checkpoints(_)) // joined on both endpoints
    val pairs = edges
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(dec(col("da")).cast("decimal(38,0)")).as("sx"),
      sum(dec(col("db")).cast("decimal(38,0)")).as("sy"),
      sum((dec(col("da")) * dec(col("da"))).cast("decimal(38,0)"))
        .as("sxx"),
      sum((dec(col("da")) * dec(col("db"))).cast("decimal(38,0)"))
        .as("sxy"),
      sum((dec(col("db")) * dec(col("db"))).cast("decimal(38,0)"))
        .as("syy"))
    def d(c: String) = col(c).cast("double")
    val dn = col("n").cast("double")
    val den = (dn * d("sxx") - d("sx") * d("sx")) *
      (dn * d("syy") - d("sy") * d("sy"))
    m.select(col("n").as("m_edges"),
      when(den > 0,
        round((dn * d("sxy") - d("sx") * d("sy")) / sqrt(den), 4)
          .cast("float")).as("r"))
  }

  /** CATEGORICAL (discrete-attribute) assortativity — Newman 2003's
    * mixing coefficient, the attribute sibling of
    * [[degreeCorrelation]]: over the directed symmetric pair set with
    * endpoint labels (brand, language, community), with e_ij = edges
    * from class i to class j and a_i = Σ_j e_ij the marginals,
    * {{{
    *   r = (Σᵢ e_ii/M − Σᵢ (a_i/M)²) / (1 − Σᵢ (a_i/M)²)
    * }}}
    * — 1 = perfectly assortative (edges only within classes), 0 =
    * random mixing, negative = disassortative. Over the COMMON
    * denominator this is the exact-integer form
    * (M·Σe_ii − Σa_i²) / (M² − Σa_i²): every aggregate an exact
    * long/DECIMAL off the label-annotated edge frame, ONE division at
    * the edge, NULL when every edge lands in one class (den = 0).
    *
    * Scale shape: two broadcast label joins onto the edge list (the
    * [[Modularity.byPartition]] plan), one |classes|²-bounded groupBy,
    * metadata-sized algebra after.
    *
    * @param edges  (a, b) distinct directed symmetric pairs
    * @param labels (id, cls)
    * @return one row (n_classes, m_edges, r_assort)
    */
  def byCategory(edges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("id").as("a"), col("cls").as("ca"))
    val lb = labels.select(col("id").as("b"), col("cls").as("cb"))
    val cells = edges.join(broadcast(la), "a").join(broadcast(lb), "b")
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("e"))
      .transform(Checkpoints(_)) // feeds M, the diagonal AND the marginals
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val marg = cells.groupBy(col("ca"))
      .agg(sum(col("e")).as("ai"),
        sum(when(col("ca") === col("cb"), col("e")).otherwise(0L))
          .as("eii"))
    val m = marg.agg(count(lit(1)).cast("int").as("n_classes"),
      sum(col("ai")).as("mm"), sum(dec(col("eii"))).as("se"),
      sum((col("ai").cast("decimal(19,0)") *
        col("ai").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .as("sa2"))
    def d(c: String) = col(c).cast("double")
    val num = d("mm") * d("se") - d("sa2")
    val den = d("mm") * d("mm") - d("sa2")
    m.select(col("n_classes"), col("mm").as("m_edges"),
      when(den > 0, (floor(num / den * 1e6 + 0.5) / 1e6).cast("float"))
        .as("r_assort"))
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004; Colizza et al.
    * 2006's normalization caveat noted, unnormalized form shipped):
    * for each degree threshold k, the edge DENSITY among the nodes
    * of degree > k — φ(k) = E_{>k} / (N_{>k}·(N_{>k}−1)) on the
    * directed symmetric pair set. Rising φ(k) means the hubs form a
    * club; the companion of [[degreeCorrelation]]'s one-number
    * mixing summary.
    *
    * Determinism: exact integer degrees, E/N exact conditional
    * counts, ONE division per k at the edge, NULL when fewer than 2
    * nodes clear the threshold.
    *
    * Scale shape: the degree-attached pair frame is built once
    * (degree groupBy + two equi-joins, [[degreeCorrelation]]'s plan)
    * and swept for ALL thresholds in one crossJoin-×|ks| aggregate —
    * |ks| is a literal handful, so the sweep costs one map pass over
    * O(|E|) rows; no per-k join rounds.
    *
    * @return one row per k: (k, n_nodes, m_edges, phi)
    */
  def richClub(edges: DataFrame,
      ks: Seq[Int] = Seq(2, 4, 8, 16, 32)): DataFrame = {
    val deg = edges.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
      .transform(Checkpoints(_)) // endpoint joins AND the node sweep
    val kf = ks.map(k => s"($k)").mkString(",")
    val pairs = edges
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val kdf = pairs.sparkSession.sql(s"SELECT * FROM VALUES $kf t(k)")
    val eK = pairs.crossJoin(broadcast(kdf)).groupBy(col("k"))
      .agg(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
        .otherwise(0L)).as("m_edges"))
    val nK = deg.crossJoin(broadcast(kdf)).groupBy(col("k"))
      .agg(sum(when(col("deg") > col("k"), 1L).otherwise(0L))
        .as("n_nodes"))
    eK.join(nK, "k")
      .select(col("k"), col("n_nodes"), col("m_edges"),
        when(col("n_nodes") > 1,
          (floor(col("m_edges").cast("double") /
            (col("n_nodes").cast("double") * (col("n_nodes") - 1))
            * 1e6 + 0.5) / 1e6).cast("float")).as("phi"))
  }
}
