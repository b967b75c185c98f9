package graft.llm

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * [[bruteForceTopK]] is the exact baseline: query-side broadcast ×
  * full scan, dot products inside codegen via `zip_with`/`aggregate`
  * higher-order functions (no UDF). Cost O(|Q|·N) — correct at any
  * scale where |Q| is small, and the reference answer for recall
  * measurement.
  *
  * [[lshTopK]] is the scale path: random-hyperplane LSH. Each vector
  * hashes to a bucket of sign bits; neighbor candidates come from an
  * equality join on the bucket key, so the pair space is linear-ish in
  * N with bucket-bounded fan-in, and only candidates pay a dot product.
  * Hyperplane components are deterministic ±1 derived from md5 parity,
  * so results are reproducible across runs AND re-derivable inside the
  * SQL oracle (see [[planeSign]]).
  */
object Similarity {

  /** Σ aᵢ·bᵢ via the native [[graft.functions.DotProduct]] expression:
    * a fused codegen loop, no intermediate array, and the enclosing
    * stage keeps whole-stage codegen (higher-order zip_with/aggregate
    * lambdas run interpreted and break it). Same left-to-right sum
    * order as the fold it replaced, so every rounded oracle compare is
    * unmoved. (An element_at-unrolled variant was also tried: 5× slower
    * under ANSI — 64 bounds-checked accesses.)
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  // array-level cast, not transform(_.cast): the HOF lambda runs
  // interpreted per element; Cast on the array type is codegen'd.
  // float→double widening is exact either way.
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Guarded cosine: NULL for zero-norm vectors instead of an ANSI
    * DIVIDE_BY_ZERO abort (one bad embedding must not kill a 100 TB job).
    */
  private def cosine(qv: Column, v: Column, qn2: Column, n2: Column): Column =
    when(qn2 > 0 && n2 > 0,
      round(dot(qv, v) / (sqrt(qn2) * sqrt(n2)), 4))

  /** Exact top-k cosine neighbors for the query vectors selected by
    * `queryPred`. Output (qid, rank, neighbor_id, cos) with cosine
    * rounded to 4 places and ranked on the rounded value (stable across
    * engines), vec_id as tiebreak.
    */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column,
      k: Int = 5): DataFrame =
    bruteForceTopKWith(dot)(embeddings, queryPred, k)

  /** [[bruteForceTopK]] with the dot product written as the declarative
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)`
    * higher-order fold — the formulation SQL users (and ported PySpark)
    * naturally write. Run as-is it evaluates through Spark's
    * interpreted lambda plumbing; in a session with
    * [[graft.functions.KernelRewrite]] installed and
    * `spark.graft.kernelRewrite.enabled=true` the optimizer rewrites
    * every fold to the codegen'd [[graft.functions.DotProduct]] kernel,
    * which is the point: the user keeps the declarative form, the
    * physical plan gets the fused loop (q107 asserts the rewrite fired
    * before returning the frame).
    */
  def bruteForceTopKHof(embeddings: DataFrame, queryPred: Column,
      k: Int = 5): DataFrame = {
    def hofDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    bruteForceTopKWith(hofDot)(embeddings, queryPred, k)
  }

  private def bruteForceTopKWith(dotFn: (Column, Column) => Column)(
      embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dotFn(col("v"), col("v")))
    val q = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos",
        when(col("qn2") > 0 && col("n2") > 0,
          round(dotFn(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))), 4)))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  /** Embedding-space near-dup clusters: connected components over the
    * [[cosineDupsLsh]] pair graph — the same composition
    * [[graft.llm.Dedup.dupClusters]] runs over the simhash graph, with
    * the LSH-bucketed candidate stage keeping the edge derivation off
    * the all-pairs path. Output (vec_id, cluster, cluster_size,
    * is_canonical), cluster = smallest reachable vec_id.
    */
  def embeddingClusters(embeddings: DataFrame, threshold: Double = 0.4,
      maxIters: Int = 50): DataFrame = {
    val pairs = cosineDupsLsh(embeddings, threshold)
      .select(col("va").as("a"), col("vb").as("b"))
    val labels = graft.graph.ConnectedComponents
      .run(embeddings.select(col("vec_id").as("id")), pairs, maxIters)
      .select(col("id").as("vec_id"), col("component").as("cluster"))
    val sizes = labels.groupBy("cluster")
      .agg(count(lit(1)).cast("int").as("cluster_size"))
    labels.join(sizes, "cluster")
      .select(col("vec_id"), col("cluster"), col("cluster_size"),
        (col("vec_id") === col("cluster")).as("is_canonical"))
  }

  /** Int8-quantized brute-force top-k — the MEMORY scale path: each
    * vector becomes a [[graft.functions.QuantizeI8]] byte blob (8× vs
    * the double array), and ranking runs entirely on exact integer
    * dot products of the codes ([[graft.functions.QuantizedDot]]);
    * per-vector scales cancel in the cosine, so the float embeddings
    * are never touched after the one-pass quantization. At warehouse
    * scale this is what fits a broadcast index in executor memory —
    * 1B × 64-dim drops from 512 GB of doubles to 64 GB of codes —
    * while recall stays near-exact (pinned vs [[bruteForceTopK]] in
    * LlmSpec). Same output contract as q68: (qid, rank, neighbor_id,
    * qcos) ranked on the rounded quantized cosine, id tiebreak.
    */
  def quantizedTopK(embeddings: DataFrame, queryPred: Column,
      k: Int = 5): DataFrame = {
    import graft.functions.{QuantizeI8, QuantizedDot}
    val e = embeddings.select(col("vec_id"),
        QuantizeI8(asDouble(col("embedding"))).as("qv"))
      .withColumn("n2", QuantizedDot(col("qv"), col("qv")))
      .where(col("n2") > 0)
    val q = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"),
        col("n2").as("qn2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("qcos",
        round(QuantizedDot(col("qqv"), col("qv")) /
          (sqrt(col("qn2")) * sqrt(col("n2"))), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("qcos"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer (k-means cells) plus
    * probe-nearest-cells search — the other classic ANN scale shape.
    *
    * The quantizer trains with `iters` Lloyd iterations expressed as
    * DataFrame ops. Centroids travel as ONE row holding an
    * `array<struct<cell,c>>`, broadcast to every task, and cell
    * assignment is a per-row `aggregate` argmin over that array — a
    * pure map with NO shuffle and no window (a crossJoin + windowed
    * argmin would materialize and exchange N×nlist rows per
    * iteration, a 16× amplification at 100 TB). Only the centroid
    * RECOMPUTE shuffles, and that is a partial-aggregating groupBy on
    * (cell, dim) — nlist×dim result rows. Centroid init is
    * deterministic (the nlist lowest vec_ids, numbered by array
    * index, no global window), so results are reproducible; the
    * vectors are never collected.
    *
    * Search: queries probe their `nprobe` nearest cells (same
    * broadcast array, sort-slice per row), candidates come from an
    * equality join on the cell id, and only candidates pay an exact
    * cosine. Recall is measured against the brute force in LlmSpec.
    */
  // native fused loop (same left-to-right sum order as the
  // aggregate(zip_with(...)) fold it replaced and as the oracle's
  // list_sum, so cell argmins cannot move)
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDiffSum(a, b)

  // (d, cell) distance pairs of a vector against the centroid array
  // column `ca`
  private def cellDists(v: Column): Column =
    transform(col("ca"), ct => struct(
      sqDist(v, ct.getField("c")).as("d"),
      ct.getField("cell").as("cell")))

  /** Lloyd k-means coarse quantizer shared by [[ivfTopK]] and
    * [[semDedup]]. Centroids travel as ONE row holding an
    * `array<struct<cell,c>>`, broadcast to every task; cell assignment
    * is a per-row argmin over that array — a pure map with NO shuffle
    * and no window. Only the centroid RECOMPUTE shuffles (a
    * partial-aggregating groupBy on (cell, dim) — nlist×dim result
    * rows). Init is deterministic (the nlist lowest vec_ids, numbered
    * by array index), so results are reproducible and re-derivable in
    * the SQL oracles; the vectors are never collected.
    *
    * @param e (vec_id, v, n2) frame
    * @return (centroid 1-row frame, assigned (vec_id, v, n2, cell))
    */
  private def lloydCells(e: DataFrame, nlist: Int,
      iters: Int): (DataFrame, DataFrame) = {
    // cell assignment: broadcast the 1-row centroid array, per-row argmin
    // (min of (d, cell) structs — ties break to the lowest cell, like the
    // oracle's ORDER BY d, cell)
    def assign(centsArr: DataFrame): DataFrame =
      e.crossJoin(broadcast(centsArr))
        .select(col("vec_id"), col("v"), col("n2"),
          array_min(cellDists(col("v"))).getField("cell").as("cell"))

    // one-row array<struct<cell,c>>: cells numbered by sorted position
    var cents = e.orderBy("vec_id").limit(nlist)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("s"))
      .select(transform(col("s"),
        (s, i) => struct((i + 1).as("cell"), s.getField("v").as("c"))).as("ca"))
    (0 until iters).foreach { _ =>
      cents = assign(cents)
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos").agg(avg(col("col")).as("m"))
        .groupBy("cell").agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("c"))
        .agg(array_sort(collect_list(struct(col("cell"), col("c")))).as("ca"))
    }
    (cents, assign(cents))
  }

  /** The [[lloydCells]] training artifact as a PUBLIC handle — the
    * (one-row centroid array, assigned (vec_id, v, n2, cell)) pair
    * five operators share at identical default params (IVF q71,
    * SemDeDup q139, the k-means table q246, silhouette q313,
    * Davies–Bouldin q314). The query layer memoizes THIS per
    * (session, fixture dir) and feeds the `*From` variants below, so
    * the 2-iteration Lloyd chain runs once per session instead of
    * five times ([[graft.queries.Analytics]]'s triangle-bundle
    * discipline — answers identical to rebuilding inline, oracles
    * still re-derive the chain independently). */
  def lloydArtifact(embeddings: DataFrame, nlist: Int = 16,
      iters: Int = 2): (DataFrame, DataFrame) = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    lloydCells(e, nlist, iters)
  }

  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val (cents, assigned) = lloydArtifact(embeddings, nlist, iters)
    ivfTopKFrom(cents, assigned, queryPred, k, nprobe)
  }

  /** [[ivfTopK]] over a prebuilt [[lloydArtifact]] — the query side
    * derives from the assigned frame (a vector's cell is ignored on
    * the query path; probing picks `nprobe` cells fresh). */
  def ivfTopKFrom(cents: DataFrame, assigned: DataFrame,
      queryPred: Column, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val queries = assigned.where(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("probe",
        slice(array_sort(cellDists(col("qv"))), 1, nprobe))
      .select(col("qid"), col("qv"), col("qn2"),
        explode(transform(col("probe"), p => p.getField("cell"))).as("cell"))

    // (qid, vec_id) is unique by construction — every vector sits in
    // exactly ONE cell (argmin assignment) and a query's probe list
    // has distinct cells — so no dedup shuffle is needed (the oracle
    // SQL likewise joins without a DISTINCT).
    val scored = assigned.join(probed, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  /** STANDALONE k-means training artifact — the [[lloydCells]]
    * quantizer q71/q139 embed, exposed as its own operator: the
    * centroid table (cell, pos, component) plus per-cell population,
    * the model a production pipeline persists and re-loads for
    * assignment-only passes (IVF indexing, SemDeDup cells, corpus
    * clustering). Same deterministic init (the nlist lowest vec_ids)
    * and broadcast/argmin shape; component values — per-(cell, dim)
    * means — are rounded at the float edge like every shipped float.
    *
    * @return (cell, n_vecs, pos, c) — nlist × dim rows
    */
  def kmeans(embeddings: DataFrame, nlist: Int = 16,
      iters: Int = 2): DataFrame = {
    val (cents, assigned) = lloydArtifact(embeddings, nlist, iters)
    kmeansFrom(cents, assigned)
  }

  /** [[kmeans]] over a prebuilt [[lloydArtifact]]. */
  def kmeansFrom(cents: DataFrame, assigned: DataFrame): DataFrame = {
    val sizes = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"))
    cents.select(explode(col("ca")).as("s"))
      .select(col("s.cell").as("cell"),
        posexplode(col("s.c")).as(Seq("pos", "cv")))
      .join(sizes, Seq("cell"), "left_outer")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        col("pos"),
        // shared explicit floor rounding (engines' round() builtins
        // disagree at exact grid ties, and means of short cells land
        // on them)
        (floor(col("cv") * 1e4 + 0.5) / 1e4).cast("float").as("c"))
  }

  /** SIMPLIFIED silhouette (Hruschka, de Castro & Campello 2004 —
    * the centroid-based form large-scale libraries ship, O(N·k)
    * instead of the full pairwise O(N²)): per point, a = distance to
    * its OWN centroid, b = the nearest OTHER centroid, s = (b − a) /
    * max(a, b) ∈ [−1, 1] — the clustering-quality readout for the
    * [[kmeans]] training artifact (well-separated cells → s → 1).
    *
    * Determinism: distances are the [[graft.functions.SqDiffSum]]
    * fixed-order fold both engines share; per-point s is one fixed
    * IEEE sequence (0 at the a = b = 0 degenerate), FLOOR-SCALED to
    * micro-units before the per-cell mean (cross-point double sums
    * would be order-dependent — the CMH/jackknife discipline).
    *
    * Scale shape: assignment + the k distances per point are a pure
    * map against the broadcast one-row centroid array ([[lloydCells]]'
    * contract); one (vec_id)-keyed aggregate, one cell-keyed
    * aggregate, |cells| rows out.
    *
    * @return (cell, n_vecs, mean_sil) per non-empty cell
    */
  def silhouette(embeddings: DataFrame, nlist: Int = 16,
      iters: Int = 2): DataFrame = {
    val (cents, assigned) = lloydArtifact(embeddings, nlist, iters)
    silhouetteFrom(cents, assigned)
  }

  /** [[silhouette]] over a prebuilt [[lloydArtifact]]. */
  def silhouetteFrom(cents: DataFrame, assigned: DataFrame): DataFrame = {
    val ab = silhouetteAbFrom(cents, assigned)
    val a = sqrt(col("a2"))
    val b = sqrt(col("b2"))
    val mx = greatest(a, b)
    val sil = when(mx > 0, (b - a) / mx).otherwise(lit(0.0))
    ab.select(col("cell"),
        floor(sil * 1e6 + 0.5).cast("long").as("s6"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("s6").cast("decimal(38,0)")).as("ss"))
      .select(col("cell"), col("n_vecs"),
        (floor(col("ss").cast("double") / col("n_vecs") / 1e6
          * 1e6 + 0.5) / 1e6).cast("float").as("mean_sil"))
  }

  /** Davies–Bouldin index (Davies & Bouldin 1979) over the same
    * [[lloydCells]] artifact — the worst-case-overlap companion of
    * [[silhouette]]'s per-point view: per cluster, scatter S_i =
    * mean distance to centroid; DB = mean_i max_{j≠i} (S_i + S_j) /
    * d(c_i, c_j) — lower is better, the metric that punishes the
    * single most-confusable cluster pair.
    *
    * Same determinism contract: fixed-order distance folds, scatter
    * means off micro-unit integer sums, the max over an exactly-k²
    * metadata frame, the final mean again micro-scaled.
    *
    * @return one row (n_clusters, db_index)
    */
  def daviesBouldin(embeddings: DataFrame, nlist: Int = 16,
      iters: Int = 2): DataFrame = {
    val (cents, assigned) = lloydArtifact(embeddings, nlist, iters)
    daviesBouldinFrom(cents, assigned)
  }

  /** [[daviesBouldin]] over a prebuilt [[lloydArtifact]]. */
  def daviesBouldinFrom(cents: DataFrame, assigned: DataFrame)
      : DataFrame = {
    val ab = silhouetteAbFrom(cents, assigned)
    val scatter = ab.select(col("cell"),
        floor(sqrt(col("a2")) * 1e6 + 0.5).cast("long").as("a6"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("a6").cast("decimal(38,0)")).as("sa"))
      .select(col("cell"),
        (col("sa").cast("double") / col("n") / 1e6).as("sc"))
      .transform(Checkpoints(_)) // both sides of the cluster-pair frame
    val cf = cents.select(explode(col("ca")).as("s"))
      .select(col("s.cell").as("cell"), col("s.c").as("c"))
    val pairs = cf.as("i").join(cf.as("j"),
        col("i.cell") =!= col("j.cell"))
      .select(col("i.cell").as("ci"), col("j.cell").as("cj"),
        sqrt(graft.functions.SqDiffSum(col("i.c"), col("j.c")))
          .as("m"))
    val rij = pairs
      .join(scatter.select(col("cell").as("ci"), col("sc").as("si")),
        "ci")
      .join(scatter.select(col("cell").as("cj"), col("sc").as("sj")),
        "cj")
      .where(col("m") > 0)
      .select(col("ci"), ((col("si") + col("sj")) / col("m")).as("r"))
    rij.groupBy(col("ci")).agg(max(col("r")).as("mr"))
      .select(floor(col("mr") * 1e6 + 0.5).cast("long").as("m6"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("m6").cast("decimal(38,0)")).as("sm"))
      .select(col("n_clusters"),
        (floor(col("sm").cast("double") / col("n_clusters") / 1e6
          * 1e6 + 0.5) / 1e6).cast("float").as("db_index"))
  }

  /** Shared per-point a²/b² frame for [[silhouetteFrom]] /
    * [[daviesBouldinFrom]]: a² = squared distance to the OWN centroid,
    * b² = to the nearest OTHER. */
  private def silhouetteAbFrom(cents: DataFrame, assigned: DataFrame)
      : DataFrame =
    assigned.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        explode(cellDists(col("v"))).as("s"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(when(col("s.cell") === col("cell"), col("s.d")))
        .as("a2"),
        min(when(col("s.cell") =!= col("cell"), col("s.d")))
          .as("b2"))

  /** Product-quantization ANN (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): split each vector
    * into `m` subspaces, k-means each subspace into `ksub` codewords,
    * store every vector as `m` small codes, and answer queries by
    * ASYMMETRIC DISTANCE — the exact query subvectors against the
    * codebook build an m×ksub lookup table, and a database vector's
    * approximate squared L2 distance is the sum of its codes' table
    * entries. This is the MEMORY path beyond [[quantizedTopK]]'s
    * int8: m·log2(ksub) bits per vector (4 bytes here vs 256 for the
    * raw floats) — the regime where a 10⁹-vector index fits on one
    * node.
    *
    * Determinism contract (oracle-re-derivable like q71's coarse
    * quantizer): per-subspace Lloyd with the ksub-lowest-vec_id init,
    * argmin ties to the lowest cell, ADC sums the per-subspace
    * distances in subspace order (a fixed-order fold, not a float
    * reduce), rounded to 4 before ranking, vec_id tiebreak.
    *
    * The ADC pass SHORTLISTS `rerank` candidates per query, then an
    * exact-distance re-rank over only those candidates picks the final
    * top-k (the "+R" refinement of IVFADC+R) — the standard recipe
    * that recovers recall quantization loses, while exact distances
    * are paid on |Q|·rerank vectors instead of |Q|·N. On isotropic
    * data (this fixture) raw ADC ranking is near-uninformative — the
    * PQ cell diameter rivals the neighbor-distance gaps — which is
    * exactly why the refine stage is part of the published method.
    *
    * Scale shape: the codebook is m·ksub tiny rows — every Lloyd
    * recompute is a bounded groupBy, and assignment/encoding is a pure
    * map against the broadcast codebook (the one-row array pattern of
    * `lloydCells`). ADC scoring never touches raw database vectors:
    * codes join the broadcast per-query distance tables and aggregate
    * m rows per (query, vector) with map-side combine; only the
    * |Q|·rerank shortlist survivors pay an id-keyed join back to the
    * raw vectors. No shuffle carries a full vector column at N scale.
    */
  def pqTopK(embeddings: DataFrame, queryPred: Column, k: Int = 5,
      m: Int = 4, ksub: Int = 16, iters: Int = 2, rerank: Int = 64,
      dim: Int = defaultDim): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))

    def subVecs(v: Column): Column =
      transform(sequence(lit(0), lit(m - 1)),
        j => slice(v, j * sub + 1, lit(sub)))
    val subs = e.select(col("vec_id"), posexplode(subVecs(col("v"))))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("sv"))

    // assignment against a broadcast one-row codebook
    // array<struct<j,cell,c>> (sorted by (j, cell)): per-row argmin
    // within the row's subspace, ties to the lowest cell
    def assign(cbRow: DataFrame): DataFrame =
      subs.crossJoin(broadcast(cbRow))
        .select(col("vec_id"), col("j"), col("sv"),
          array_min(transform(
            filter(col("cb"), ent => ent.getField("j") === col("j")),
            ent => struct(sqDist(col("sv"), ent.getField("c")).as("d"),
              ent.getField("cell").as("cell"))))
            .getField("cell").as("cell"))

    // init: the ksub lowest vec_ids' subvectors, cells numbered by
    // vec_id rank within each subspace (tiny frame, ksub·m rows)
    var cb = e.orderBy("vec_id").limit(ksub)
      .select(col("vec_id"), posexplode(subVecs(col("v"))))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("sv"))
      .withColumn("cell", row_number().over(
        Window.partitionBy("j").orderBy("vec_id")).cast("int"))
      .agg(array_sort(collect_list(struct(col("j"), col("cell"),
        col("sv").as("c")))).as("cb"))
    (0 until iters).foreach { _ =>
      cb = assign(cb)
        .select(col("j"), col("cell"), posexplode(col("sv")))
        .groupBy("j", "cell", "pos").agg(avg(col("col")).as("mu"))
        .groupBy("j", "cell").agg(
          transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
            s => s.getField("mu")).as("c"))
        .agg(array_sort(collect_list(struct(col("j"), col("cell"),
          col("c")))).as("cb"))
    }

    // encode: m codes per vector, packed in subspace order
    val codes = assign(cb).groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cell")))),
        s => s.getField("cell")).as("codes"))

    // per-query ADC table: exact query subvector vs every codeword
    // (still sorted by (j, cell) — cb is)
    val queries = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(cb))
      .select(col("qid"), transform(col("cb"), ent => struct(
        ent.getField("j").as("j"), ent.getField("cell").as("cell"),
        sqDist(slice(col("qv"), ent.getField("j") * sub + 1, lit(sub)),
          ent.getField("c")).as("d"))).as("dtab"))

    // ADC score: fixed-order fold over subspaces; lookup by (j, code)
    // (robust to cells emptied during Lloyd — no positional indexing)
    val scored = codes.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("approx_d", round(
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
          acc + element_at(filter(col("dtab"), ent =>
            ent.getField("j") === j &&
              ent.getField("cell") === element_at(col("codes"), j + 1)), 1)
            .getField("d")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("approx_d"), col("vec_id"))
    val shortlist = scored
      .withColumn("srank", row_number().over(w))
      .where(col("srank") <= rerank)
      .select(col("qid"), col("vec_id"))

    // exact re-rank of the shortlist: |Q|·rerank exact distances
    val qraw = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val refined = shortlist
      .join(e, "vec_id")
      .join(broadcast(qraw), "qid")
      .withColumn("exact_d", round(sqDist(col("qv"), col("v")), 4))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("exact_d"), col("vec_id"))
    refined.withColumn("rank", row_number().over(wf).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("exact_d"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication — k-means partition the embedding space, then look
    * for high-cosine pairs only WITHIN each cluster, dropping all but
    * the first (lowest-id) member of every semantic-duplicate
    * neighborhood. The reference has no embedding curation at all
    * (extension per SURVEY §2.8); this is the published method modern
    * corpus pipelines run between exact dedup and quality filtering.
    *
    * Dedup rule (the paper's greedy keeper, made deterministic): a
    * vector is dropped iff some LOWER-id vector in the same cell has
    * cosine ≥ `threshold` with it — first occurrence wins, matching
    * [[graft.llm.Dedup.exactDedup]]'s min-id convention. The cosine is
    * rounded to 4 places before the compare (same contract as every
    * other cosine surface here), so the verdict is reproducible
    * cross-engine.
    *
    * Scale shape — the whole point of SemDeDup: the quadratic pair
    * search is confined to cells, so cost is Σ|cell|² ≈ N²/nlist
    * instead of N²; `nlist` is the knob that scales ∝ N (the paper
    * uses 50k clusters for LAION-scale). Cluster assignment is the
    * shared broadcast-centroid pure map ([[lloydCells]]), the
    * within-cell join is an equi-join on the cell id with
    * cell-bounded fan-in, and the dup-id set collapses through an
    * id-keyed semi-join — embeddings never travel with the verdict.
    *
    * The assigned frame feeds THREE consumers (both pair-join sides
    * and the verdict join), so it is eagerly checkpointed — without
    * that the whole iterative Lloyd chain re-executes per consumer
    * (the corpusPipeline discipline; at warehouse scale the slot is a
    * checkpoint table).
    *
    * @return one row per input vector: (vec_id, cell, keep)
    */
  def semDedup(embeddings: DataFrame, threshold: Double = 0.35,
      nlist: Int = 16, iters: Int = 2): DataFrame =
    semDedupFrom(Checkpoints(lloydArtifact(embeddings, nlist, iters)._2),
      threshold)

  /** [[semDedup]] over a prebuilt [[lloydArtifact]] assigned frame —
    * the caller owns persistence (the memoized bundle is already
    * checkpointed; re-checkpointing would copy the blocks). */
  def semDedupFrom(assigned: DataFrame,
      threshold: Double = 0.35): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("av"), col("n2").as("an2"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("n2").as("bn2"))
    // zero-norm vectors: cosine() yields NULL, NULL >= t filters false —
    // they are never duplicates of anything (oracle guards n2 > 0)
    val dups = a.join(b, Seq("cell"))
      .where(col("a_id") < col("b_id") &&
        cosine(col("av"), col("bv"), col("an2"), col("bn2"))
          >= lit(threshold))
      .select(col("b_id").as("vec_id")).distinct()
    assigned.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(!col("dup"), lit(true)).as("keep"))
  }

  /** Hard-negative mining for contrastive/embedding training (the
    * DPR/ANCE recipe, Karpukhin et al. 2020 / Xiong et al. 2021): for
    * each query vector, the top-k most-similar vectors whose `label`
    * DIFFERS from the query's — near the query in embedding space but
    * known-non-matching, exactly the negatives that sharpen a
    * retriever. Same broadcast-query × one-scan shape and output
    * contract as [[bruteForceTopK]] (qid, rank, neighbor_id, cos),
    * with the label exclusion pushed into the join predicate so
    * same-label candidates never pay a dot product; `neg_label`
    * carried for training-side bookkeeping. At index scale the scan
    * side swaps for [[lshTopK]]/[[ivfTopK]] candidates unchanged —
    * the exclusion predicate composes with any candidate source.
    */
  def hardNegatives(embeddings: DataFrame, queryPred: Column,
      k: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val q = e.where(queryPred)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("n2").as("qn2"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"), col("cos"))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003: ±1
    * entries suffice for the JL guarantee): project each embedding
    * onto `outDim` deterministic md5-parity ±1 hyperplanes — the SAME
    * plane family the LSH buckets sign — scaled by 1/√outDim so
    * expected pairwise distances are preserved. The dimensionality-
    * reduction preprocessor for clustering/ANN over very wide
    * embeddings: 64 → 16 dims cuts every downstream dot product 4×.
    *
    * Determinism: planes are plan-time literal arrays; each component
    * is ONE fused left-to-right dot product (the q69 contract), the
    * 1/√outDim scale is exact in binary for power-of-4 `outDim`
    * (default 16 → 0.25), and the shipped value takes the shared
    * floor rounding. Pure map — no shuffle at any corpus size.
    *
    * @return (vec_id, pos, p) — outDim rows per vector
    */
  def rpProject(embeddings: DataFrame, outDim: Int = 16,
      dim: Int = defaultDim): DataFrame = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val comps = (0 until outDim).map { p =>
      val plane = array((0 until dim).map(j => lit(planeSign(p, j))): _*)
      struct(lit(p).as("pos"), dot(col("v"), plane).as("pv"))
    }
    e.select(col("vec_id"), explode(array(comps: _*)).as("c"))
      .select(col("vec_id"), col("c.pos").as("pos"),
        (floor(col("c.pv") * lit(scale) * 1e4 + 0.5) / 1e4)
          .cast("float").as("p"))
  }

  val numTables = 4
  val bitsPerTable = 4

  /** Fixture embedding dimensionality (TESTDATA.md). */
  val defaultDim = 64

  /** Deterministic ±1 hyperplane component for plane `p`, dimension
    * `j`: parity of the first hex nibble of `md5("p:j")`. md5 (not a
    * JVM/xxhash hash) so the SAME planes are derivable inside the
    * DuckDB oracle — this is what lets q69 be hash-gate-checked
    * end-to-end instead of rows-only. Evaluated once at PLAN time and
    * embedded as literal arrays, so per-row work is just the dot
    * product.
    */
  private[llm] def planeSign(p: Int, j: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
  }

  /** Sign-bit bucket key for one hash table (AND over bitsPerTable
    * hyperplanes). `dim` must match the embedding length (zip_with
    * nulls out mismatched tails).
    */
  private def tableBucket(v: Column, table: Int, dim: Int): Column =
    (0 until bitsPerTable).map { b =>
      val p = table * bitsPerTable + b
      val plane = array((0 until dim).map(j => lit(planeSign(p, j))): _*)
      // native fused dot (same left-to-right fold order as the
      // aggregate(zip_with) it replaces — sign bits cannot move)
      val d = dot(v, plane)
      when(d > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** (table, bucket) rows for a vector frame — the OR-construction:
    * candidates are vectors sharing ANY table's bucket, so recall
    * grows with numTables while each bucket stays selective. Each row
    * also carries the vector's FULL bucket vector (`bk`, numTables
    * ints) so joins can deduplicate multi-table collisions with the
    * first-collision-table filter instead of a `dropDuplicates`
    * shuffle (see [[firstCollisionOnly]]).
    */
  private def withBuckets(e: DataFrame, dim: Int): DataFrame =
    e.withColumn("bk",
        array((0 until numTables).map(t => tableBucket(col("v"), t, dim)): _*))
      .select(col("*"), posexplode(col("bk")).as(Seq("table", "bucket")))

  /** TRUE iff `table` is the FIRST hash table where the two bucket
    * vectors collide — a pair sharing buckets in k tables appears in k
    * joined rows, and exactly one (the lowest table) survives this
    * filter. Replaces `dropDuplicates` on the candidate pairs: the
    * check is a handful of codegen'd int compares applied map-side
    * BEFORE the pair ever shuffles, where the dedup shuffle moved
    * every duplicate candidate across the cluster first.
    */
  private def firstCollisionOnly(table: Column, bkA: Column, bkB: Column): Column =
    (0 until numTables).map { u =>
      !(table > u && element_at(bkA, u + 1) === element_at(bkB, u + 1))
    }.reduce(_ && _)

  /** All embedding pairs (va < vb) with cosine ≥ threshold — the
    * embedding-space NEAR-DUPLICATE set (vs the top-k contract of the
    * ANN paths). Exact upper-triangle comparison: the O(N²/2) baseline
    * and the oracle surface; [[cosineDupsLsh]] is the scale path.
    */
  def cosineDups(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    // repartition the streamed side with an EXPLICIT partition count:
    // the pair loop parallelism equals its partition count, and both a
    // compact scan and AQE's small-shuffle coalescing would otherwise
    // run the whole O(N²/2) loop in one task
    val slices = embeddings.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    e.select(col("vec_id").as("va"), col("v").as("qv"), col("n2").as("qn2"))
      .repartition(slices, col("va"))
      .join(e.select(col("vec_id").as("vb"), col("v"), col("n2")),
        col("va") < col("vb"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .where(col("cos") >= threshold)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** Scale path for [[cosineDups]]: candidates restricted to pairs
    * sharing an LSH bucket in ≥ 1 table (linear-ish in N), exact cosine
    * only on candidates. Output ⊆ [[cosineDups]] output; recall is the
    * OR-construction curve, measured in LlmSpec.
    */
  def cosineDupsLsh(embeddings: DataFrame, threshold: Double,
      dim: Int = defaultDim): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    // both sides of the bucket self-join read the plane-projection
    // pass (numTables × bitsPerTable dots per vector); when one side
    // broadcasts, the stream side re-runs it — materialize once
    val eb = Checkpoints(withBuckets(e, dim))
    eb.as("a").join(eb.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id") &&
          firstCollisionOnly(col("a.table"), col("a.bk"), col("b.bk")))
      .select(col("a.vec_id").as("va"), col("a.v").as("qv"),
        col("a.n2").as("qn2"), col("b.vec_id").as("vb"),
        col("b.v").as("v"), col("b.n2").as("n2"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
      .where(col("cos") >= threshold)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** Bucketed ANN: exact cosine, but only among candidates sharing an
    * LSH bucket in at least one of the hash tables. Same output
    * contract as [[bruteForceTopK]]; recall < 1 by construction
    * (measured in ScalaTest against the brute force).
    */
  /** Multi-probe LSH ANN: [[lshTopK]]'s index, but each query ALSO
    * probes every bucket at Hamming distance 1 from its own (all
    * `bitsPerTable` single-bit flips, per table) — the Lv et al.
    * recall lever: near neighbors that land one hyperplane away are
    * recovered WITHOUT adding hash tables, so the index (the 100 TB
    * side) stays the same size and only the query fan-out grows
    * (×(1+bits), on the side that is always the small one). The
    * probed candidate set is a strict superset of [[lshTopK]]'s, so
    * recall is monotonically ≥ at identical index cost.
    *
    * Candidates are deduped with one DISTINCT on the (query,
    * candidate) pair — bounded by the candidate set, never the
    * corpus — then scored exactly like the other ANN paths.
    */
  def lshMultiProbeTopK(embeddings: DataFrame, queryPred: Column,
      k: Int = 5, dim: Int = defaultDim): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val idx = withBuckets(e, dim)
      .select(col("table").as("t"), col("bucket").as("bkt"), col("vec_id"))
    val probes = withBuckets(e.where(queryPred), dim)
      .select(col("vec_id").as("qid"), col("table").as("t"),
        explode(array((col("bucket") +: (0 until bitsPerTable).map(b =>
          col("bucket").bitwiseXOR(lit(1 << b)))): _*)).as("bkt"))
    val pairs = idx.join(probes, Seq("t", "bkt"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    val scored = pairs
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2")), "qid")
      .join(e, "vec_id")
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  def lshTopK(embeddings: DataFrame, queryPred: Column,
      k: Int = 5, dim: Int = defaultDim): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val eb = withBuckets(e, dim)
    val qb = withBuckets(e.where(queryPred), dim)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("bk").as("qbk"),
        col("table"), col("bucket"))
    val scored = eb.join(qb, Seq("table", "bucket"))
      .where(col("vec_id") =!= col("qid") &&
        firstCollisionOnly(col("table"), col("bk"), col("qbk")))
      .select(col("qid"), col("qv"), col("qn2"), col("vec_id"),
        col("v"), col("n2"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qn2"), col("n2")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  /** Embedding L2-norm audit — the "broken embeddings" QA gate every
    * vector pipeline needs before indexing: an all-zeros vector, a
    * half-written row, or an unnormalized batch all show up as norm
    * outliers. Norms² are EXACT integers on the [[graft.llm.Pca]]
    * 1e-4 quantization grid (Σq², one map-side groupBy); the outlier
    * rule is a z-score on norm² from exact DECIMAL moments — one
    * fixed IEEE sequence per vector, flag on the UNROUNDED |z| > 3.
    *
    * @return (vec_id, norm, z, outlier)
    */
  def embeddingNorms(embeddings: DataFrame): DataFrame = {
    val grid = 10000L
    val q = embeddings.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("i", "x")))
      .select(col("vec_id"),
        floor(col("x") * grid + 0.5).cast("long").as("q"))
    val per = q.groupBy(col("vec_id"))
      .agg(sum((col("q").cast("decimal(19,0)") * col("q")
        .cast("decimal(19,0)")).cast("decimal(38,0)")).as("n2"))
      .transform(Checkpoints(_)) // feeds the moment row AND the output
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("n2")).as("s"),
      sum((col("n2") * col("n2")).cast("decimal(38,0)")).as("ss"))
    val dn = col("n").cast("double")
    val mu = col("s").cast("double") / dn
    val sd = sqrt((dn * col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double")) / (dn * dn))
    val j = per.crossJoin(broadcast(m.select(mu.as("mu"), sd.as("sd"))))
    val z = when(col("sd") =!= 0.0,
      (col("n2").cast("double") - col("mu")) / col("sd"))
    j.select(col("vec_id"),
      round(sqrt(col("n2").cast("double")) / lit(grid.toDouble), 4)
        .cast("float").as("norm"),
      round(z, 4).cast("float").as("z"),
      (abs(z) > lit(3.0)).as("outlier"))
  }
}
