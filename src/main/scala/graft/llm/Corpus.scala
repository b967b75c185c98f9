package graft.llm

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for training-data pipelines: context-
  * window chunking, deterministic stratified sampling, token-stream
  * packing, mixture accounting, and benchmark decontamination.
  *
  * Scale shape (the 100 TB lens, see SCALE.md):
  *  - [[chunk]] and [[stratifiedSample]] are pure maps (chunking adds a
  *    generate/explode, still narrow) — zero shuffles, fully codegen'd;
  *  - [[packStream]] is ONE shuffle on the stream key + a running-sum
  *    window — the per-key sequential semantics are inherent to
  *    deterministic packing, and parallelism = |stream keys|;
  *  - [[mixWeights]] is a two-level aggregate (partial map-side combine
  *    on a ≤|langs| key) plus a broadcast of the 1-row total;
  *  - [[decontaminate]] joins the corpus against a BROADCAST benchmark
  *    shingle index — the benchmark set is small by construction
  *    (eval suites), so no corpus-side shuffle is ever paid.
  */
object Corpus {

  /** Fixed-size token-window chunking with overlap — the standard prep
    * for embedding / context-window training. Each document's token
    * array is cut into windows of `chunkTokens` advancing by
    * `chunkTokens - overlap`; the final window keeps its natural
    * (shorter) length. Documents shorter than one window yield exactly
    * one chunk, so no input row is ever dropped.
    *
    * Pure map + explode: no shuffle at any scale.
    */
  def chunk(docs: DataFrame, chunkTokens: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      // number of windows: ceil(max(n - overlap, 1) / stride) in pure
      // integer arithmetic (DIV), mirroring the oracle's `//`
      .withColumn("nc",
        expr(s"(greatest(n - $overlap, 1) + ${stride - 1}) div $stride").cast("int"))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("w"), col("chunk_id") * stride + 1, lit(chunkTokens))).as("chunk"),
        least(col("n") - col("chunk_id") * stride, lit(chunkTokens)).as("chunk_tokens"))
  }

  /** Deterministic uniform in [0, 65536) from the first 16 md5 bits of
    * `salt:id` — reproducible across engines (DuckDB re-derives it from
    * the same md5 hex), unlike `rand(seed)` which is partition-placement
    * dependent and therefore NOT stable under repartitioning.
    */
  def hash16(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 4), 16, 10)
      .cast("int")

  /** Stratified downsampling with per-language keep rates (languages
    * absent from `rates` keep `defaultRate`). The keep decision is
    * `hash16/65536 < rate` — deterministic per doc_id, independent of
    * partitioning, and exactly re-derivable by the oracle. Pure map.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double = 1.0, salt: String = "smp"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate): Column) {
      case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("h16", hash16(col("doc_id"), salt))
      // h16/65536 is a dyadic rational: the double division is EXACT in
      // both engines, so `<` agrees bit-for-bit with the oracle
      .filter(col("h16").cast("double") / lit(65536.0) < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("h16"))
  }

  /** Token-stream packing: per stream, documents are concatenated in
    * doc_id order into one virtual token stream that is then cut into
    * fixed `budget`-token context windows (the concat-then-split packing
    * used by LLM pre-training loaders). Emits, per document, the window
    * it starts in (`pack_id`), how many windows it spans, and its offset
    * inside the first window.
    *
    * The DEFAULT stream key is the composite (lang, shard), with
    * `shard = hash16(doc_id, salt) % nStreams` — the exact md5 math of
    * [[shardShuffle]], so packing composed with the epoch shuffle packs
    * each output shard independently (same salt → same shard). This is
    * the 100 TB shape: one shuffle on the composite key + a running-sum
    * window whose parallelism is |langs| × nStreams, not |langs| — a
    * mostly-English corpus no longer serializes its running token sum
    * into one task. `pack_id` is local to its (lang, shard) stream,
    * matching how sharded loader files are each packed independently.
    *
    * `nStreams = 1` is the legacy single-stream-per-language form (no
    * shard column) kept as the oracle-compat / small-data surface.
    */
  def packStream(docs: DataFrame, budget: Int = 256, nStreams: Int = 8,
      salt: String = "ep0"): DataFrame = {
    require(nStreams >= 1, "nStreams must be >= 1")
    val packCols = Seq(
      s"(cum - n_tok) div $budget AS pack_id",
      s"((cum - 1) div $budget) - ((cum - n_tok) div $budget) + 1 AS n_windows",
      s"cast(cum - n_tok - ((cum - n_tok) div $budget) * $budget as int) AS pack_offset")
    val base = docs.select(col("doc_id"), col("lang"),
      size(TextOps.tokens(col("text"))).as("n_tok"))
    if (nStreams == 1) {
      val w = Window.partitionBy("lang").orderBy("doc_id")
      base
        .withColumn("cum", sum(col("n_tok").cast("long")).over(w))
        .selectExpr(Seq("doc_id", "lang", "n_tok") ++ packCols: _*)
    } else {
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      base
        .withColumn("shard", (hash16(col("doc_id"), salt) % nStreams).cast("int"))
        .withColumn("cum", sum(col("n_tok").cast("long")).over(w))
        .selectExpr(Seq("doc_id", "lang", "shard", "n_tok") ++ packCols: _*)
    }
  }

  /** Packing ACCOUNTING — the loader-capacity numbers a pipeline
    * checks before launching a run: per (lang, shard) stream, document
    * and token mass, how many `budget`-token context windows
    * [[packStream]] will cut, the padding tokens lost in each stream's
    * final partial window, and the resulting utilization. Window
    * counts are exact by the concat-then-split invariant (windows per
    * stream = ⌈total_tokens/budget⌉ — only the tail window is ever
    * short), so NO packing run is needed: this is one groupBy over
    * (lang, shard) with map-side combine — it skips [[packStream]]'s
    * per-stream running-sum sort entirely, which is the point at
    * 100 TB (capacity planning must be cheaper than the job it plans).
    */
  def packStats(docs: DataFrame, budget: Int = 256, nStreams: Int = 8,
      salt: String = "ep0"): DataFrame = {
    require(nStreams >= 1, "nStreams must be >= 1")
    require(budget > 0, "budget must be > 0")
    docs.select(col("lang"),
        size(TextOps.tokens(col("text"))).as("n_tok"),
        (hash16(col("doc_id"), salt) % nStreams).cast("int").as("shard"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"))
      .withColumn("n_windows",
        expr(s"(n_tokens + ${budget - 1}) div $budget"))
      .withColumn("pad_tokens",
        col("n_windows") * budget - col("n_tokens"))
      .withColumn("utilization",
        round(col("n_tokens").cast("double")
          / (col("n_windows") * lit(budget.toLong)), 4).cast("float"))
  }

  /** Snapshot MANIFEST — the run-to-run integrity record a pipeline
    * publishes beside each corpus snapshot: per (lang, shard), the
    * document and token counts plus an ORDER-INVARIANT 48-bit content
    * hash (XOR of per-row md5 digests over `salt:doc_id:text`, so the
    * hash is independent of partitioning and row order, and mixing the
    * doc_id in prevents identical texts from cancelling — ids are
    * unique). Two snapshots agree exactly where their manifests agree:
    * a day-2 ingest, a backfill, or an engine change shows up as the
    * precise shard set whose hash moved, without ever diffing
    * documents.
    *
    * Scale shape: one map + one map-side-combined groupBy (count, sum,
    * and XOR are all associative/commutative partial aggregates); the
    * manifest is ≤ |langs|·nStreams rows at any corpus size.
    */
  def snapshotManifest(docs: DataFrame, nStreams: Int = 8,
      salt: String = "snap"): DataFrame = {
    require(nStreams >= 1, "nStreams must be >= 1")
    val dg = conv(substring(md5(concat(lit(salt + ":"),
        col("doc_id").cast("string"), lit(":"),
        coalesce(col("text"), lit("")))), 1, 12), 16, 10).cast("long")
    docs.select(col("lang"),
        (hash16(col("doc_id"), salt) % nStreams).cast("int").as("shard"),
        size(TextOps.tokens(col("text"))).as("n_tok"), dg.as("dg"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        expr("bit_xor(dg)").as("content_hash"))
  }

  /** Manifest DIFF — drift localization between two snapshot
    * manifests ([[snapshotManifest]]): the (lang, shard) cells whose
    * content moved, tagged `added` / `removed` / `changed`, with both
    * sides' counts and hashes. Because the manifest hash is
    * order-invariant and per-shard, this pinpoints which slice of a
    * corpus a day-2 ingest, backfill, or engine change touched WITHOUT
    * reading documents: the diff joins two ≤ |langs|·nStreams-row
    * frames — constant work at any corpus size (the manifests
    * themselves are each one map + one map-side-combined groupBy).
    * Agreeing cells are dropped; an empty diff certifies snapshot
    * equality under the manifest contract.
    */
  def manifestDiff(oldManifest: DataFrame,
      newManifest: DataFrame): DataFrame = {
    val o = oldManifest.select(col("lang"), col("shard"),
      col("n_docs").as("old_docs"), col("n_tokens").as("old_tokens"),
      col("content_hash").as("old_hash"))
    val n = newManifest.select(col("lang"), col("shard"),
      col("n_docs").as("new_docs"), col("n_tokens").as("new_tokens"),
      col("content_hash").as("new_hash"))
    o.join(n, Seq("lang", "shard"), "full_outer")
      .withColumn("status",
        when(col("old_docs").isNull, lit("added"))
          .when(col("new_docs").isNull, lit("removed"))
          .otherwise(lit("changed")))
      .where(col("old_docs").isNull || col("new_docs").isNull ||
        col("old_hash") =!= col("new_hash") ||
        col("old_docs") =!= col("new_docs") ||
        col("old_tokens") =!= col("new_tokens"))
      .select(col("lang"), col("shard"), col("status"),
        col("old_docs"), col("new_docs"),
        col("old_tokens"), col("new_tokens"),
        col("old_hash"), col("new_hash"))
  }

  /** The PACK MANIFEST — the loader-facing inverse of [[packStream]]:
    * one row per (document × context window it occupies), with the
    * document's start offset and token count inside that window. This
    * is what a training loader actually consumes: for window W of
    * stream (lang, shard), the manifest rows with that key describe
    * exactly how to assemble W (and where attention-mask document
    * boundaries fall). Derivation is a pure map + explode over the
    * packing frame — the doc's global token span [S, S+n) intersected
    * with each window's [w·budget, (w+1)·budget) — so it adds no
    * shuffle beyond [[packStream]]'s own.
    *
    * Per-stream invariant (spec-pinned): every window's contributions
    * sum to exactly `budget` tokens, except each stream's last window.
    */
  def packManifest(docs: DataFrame, budget: Int = 256, nStreams: Int = 8,
      salt: String = "ep0"): DataFrame = {
    val b = lit(budget.toLong)
    val packed = packStream(docs, budget, nStreams, salt)
    // the legacy single-stream form emits no shard column; the
    // manifest contract always carries one (the lone stream is shard 0)
    val sharded =
      if (nStreams == 1) packed.withColumn("shard", lit(0)) else packed
    sharded
      .withColumn("s_glob", col("pack_id") * b + col("pack_offset"))
      .withColumn("e_glob", col("s_glob") + col("n_tok"))
      .select(col("lang"), col("shard"), col("doc_id"),
        col("s_glob"), col("e_glob"),
        explode(sequence(col("pack_id"),
          col("pack_id") + col("n_windows") - 1)).as("pack_id"))
      .select(col("lang"), col("shard"), col("pack_id"), col("doc_id"),
        (greatest(col("s_glob"), col("pack_id") * b) - col("pack_id") * b)
          .cast("int").as("start_in_window"),
        (least(col("e_glob"), (col("pack_id") + 1) * b)
          - greatest(col("s_glob"), col("pack_id") * b))
          .cast("int").as("len_in_window"))
  }

  /** Deterministic epoch shuffle + shard assignment: every document
    * gets a shard (`md5(salt:id)` high bits mod `nShards`) and a
    * reproducible position within its shard (ascending md5 hex, doc_id
    * tie-break) — the standard "shuffle once, shard, then stream
    * shards sequentially" layout LLM pre-training loaders consume.
    * Changing `salt` (e.g. per epoch) re-deals both shard and order;
    * nothing depends on partition placement, unlike `rand(seed)`.
    *
    * Scale shape: shard assignment is a pure map; the within-shard
    * position is one shuffle on shard + a sort — parallelism =
    * `nShards`, so at warehouse scale pick nShards in the thousands
    * (shard count IS the write parallelism of the output files).
    */
  def shardShuffle(docs: DataFrame, nShards: Int = 8,
      salt: String = "ep0"): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs
      .select(col("doc_id"),
        md5(concat(lit(salt + ":"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard",
        (hash16(col("doc_id"), salt) % nShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Deterministic named-split assignment (train/val/test): the
    * md5-uniform `hash16 / 65536` value buckets each doc into the
    * first split whose cumulative fraction exceeds it — reproducible
    * across runs and engines (no `rand`), salt-rotatable, and
    * stratification-free by design (fractions apply globally; compose
    * with [[stratifiedSample]] for per-lang rates). Pure map.
    *
    * Cumulative bounds are computed once here and interpolated
    * verbatim into the oracle (double image and all), so both engines
    * compare against bit-identical thresholds.
    */
  def assignSplits(docs: DataFrame,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "spl"): DataFrame = {
    require(cuts.nonEmpty && math.abs(cuts.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val u = hash16(col("doc_id"), salt).cast("double") / lit(65536.0)
    val bounds = cuts.map(_._1).zip(cuts.map(_._2).scanLeft(0.0)(_ + _).tail)
    val split = bounds.init.reverse.foldLeft(lit(bounds.last._1)) {
      case (acc, (nm, ub)) => when(u < ub, lit(nm)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"), split.as("split"))
  }

  /** Cumulative upper bounds as exact double images, for oracle
    * interpolation (Scala's shortest-round-trip toString parses back
    * to the same IEEE double in DuckDB).
    */
  def splitBounds(cuts: Seq[(String, Double)]): Seq[(String, Double)] =
    cuts.map(_._1).zip(cuts.map(_._2).scanLeft(0.0)(_ + _).tail)

  /** The SPLIT-LEAKAGE AUDIT: near-dup pairs (simhash Hamming ≤
    * `maxHamming`) that straddle a split boundary — exactly the
    * eval-contamination a training pipeline must catch before the val/
    * test sets are trusted (a near-copy of a training doc in the eval
    * split inflates every metric). Composes [[Dedup.simhashPairs]]
    * with [[assignSplits]]; the pair frame carries ids only, so the
    * split join is two id-keyed hash joins.
    *
    * @return (da, db, hamming, split_a, split_b), split_a ≠ split_b
    */
  def crossSplitLeaks(docs: DataFrame, maxHamming: Int = 3,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "spl", bits: Int = Dedup.simhashBits): DataFrame = {
    val splits = assignSplits(docs, cuts, salt)
      .select(col("doc_id"), col("split"))
    Dedup.simhashPairs(docs, maxHamming, bits)
      .join(splits.select(col("doc_id").as("da"),
        col("split").as("split_a")), "da")
      .join(splits.select(col("doc_id").as("db"),
        col("split").as("split_b")), "db")
      .where(col("split_a") =!= col("split_b"))
      .select(col("da"), col("db"), col("hamming"),
        col("split_a"), col("split_b"))
  }

  /** [[crossSplitLeaks]] under the SET-SIMILARITY definition: pairs
    * with shingle Jaccard ≥ `threshold` straddling a split boundary —
    * the leaks the Hamming audit can't see (a doc sharing most of its
    * shingles with an eval doc can still sit > 3 simhash bits away).
    *
    * Scale shape: rides [[Dedup.jaccardPairsDelta]]'s prefix-filtered
    * candidate machinery with "not in the majority (first) split" as
    * the delta predicate — a straddling pair has differing splits, so
    * at least one side is outside the first split, and the
    * majority×majority pair space (90% of docs under the default cuts,
    * so ~81% of all candidate pairs) is discarded INSIDE the candidate
    * join predicate, never shuffled or verified. The split predicate
    * re-derives from doc_id alone (md5 math), which is what makes it
    * evaluable on both sides of the pair frames.
    *
    * @return (da, db, jaccard, split_a, split_b), split_a ≠ split_b
    */
  def crossSplitLeaksJaccard(docs: DataFrame, threshold: Double = 0.3,
      n: Int = 3,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "spl"): DataFrame = {
    val splits = assignSplits(docs, cuts, salt)
      .select(col("doc_id"), col("split"))
    val u = hash16(col("doc_id"), salt).cast("double") / lit(65536.0)
    val outsideMajority = !(u < lit(splitBounds(cuts).head._2))
    Dedup.jaccardPairsDelta(docs, outsideMajority, n, threshold)
      .join(splits.select(col("doc_id").as("da"),
        col("split").as("split_a")), "da")
      .join(splits.select(col("doc_id").as("db"),
        col("split").as("split_b")), "db")
      .where(col("split_a") =!= col("split_b"))
      .select(col("da"), col("db"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** [[crossSplitLeaks]] under the SUBSTRING-OVERLAP definition: pairs
    * sharing ≥ `minShared` winnowed fingerprints across a split
    * boundary — by the winnowing guarantee ([[Dedup.winnow]]), any
    * (w + k − 1)-token verbatim run shared between a train doc and an
    * eval doc is caught at ANY alignment, the contamination mode both
    * whole-set Jaccard and Hamming fingerprints dilute away when the
    * shared run is a small fraction of each doc. Composes
    * [[Dedup.winnowedPairs]] (bounded fingerprint sketches, stop-fp
    * capped) with [[assignSplits]]; the pair frame carries ids only,
    * so the split join is two id-keyed hash joins.
    *
    * @return (da, db, n_shared, split_a, split_b), split_a ≠ split_b
    */
  def crossSplitSubstringLeaks(docs: DataFrame, k: Int = 4, w: Int = 5,
      maxDf: Int = 64, minShared: Int = 1,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "spl"): DataFrame = {
    val splits = assignSplits(docs, cuts, salt)
      .select(col("doc_id"), col("split"))
    Dedup.winnowedPairs(docs, k, w, maxDf)
      .where(col("n_shared") >= minShared)
      .join(splits.select(col("doc_id").as("da"),
        col("split").as("split_a")), "da")
      .join(splits.select(col("doc_id").as("db"),
        col("split").as("split_b")), "db")
      .where(col("split_a") =!= col("split_b"))
      .select(col("da"), col("db"), col("n_shared"),
        col("split_a"), col("split_b"))
  }

  /** LEAK-SAFE split assignment — the PREVENTION counterpart of the
    * [[crossSplitLeaks]] audits: the split is decided by the near-dup
    * CLUSTER id (md5-uniform over the cluster representative), so
    * every member of a cluster lands in the same split and a near-dup
    * pair straddling a boundary is impossible by construction — the
    * audit over this assignment is empty for the same Hamming radius.
    * Per-split mass still converges to the cut fractions because
    * cluster ids are md5-uniform and most clusters are singletons in a
    * deduplicated corpus.
    *
    * Scale shape: [[Dedup.dupClusters]]' banded pair join + pointer-
    * jumped components, then one doc_id-keyed join of the (id,
    * cluster) frame against the pure-map split rule — no text moves.
    *
    * @return (doc_id, cluster, split)
    */
  def leakSafeSplits(docs: DataFrame, maxHamming: Int = 3,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "spl",
      bits: Int = Dedup.simhashBits): DataFrame = {
    require(cuts.nonEmpty && math.abs(cuts.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val u = hash16(col("cluster"), salt).cast("double") / lit(65536.0)
    val bounds = splitBounds(cuts)
    val split = bounds.init.reverse.foldLeft(lit(bounds.last._1)) {
      case (acc, (nm, ub)) => when(u < ub, lit(nm)).otherwise(acc)
    }
    Dedup.dupClusterLabels(docs, maxHamming, bits = bits)
      .select(col("doc_id"), col("cluster"), split.as("split"))
  }

  /** [[leakSafeSplits]] over PRECOMPUTED cluster labels
    * ([[Dedup.dupClusters]] output shape) — a pipeline that already
    * holds the near-dup clusters (the shared q82 build) should not
    * re-run the whole simhash + connected-components machinery just
    * to key the split rule on the cluster id.
    */
  def leakSafeSplitsFromClusters(clusters: DataFrame,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      salt: String = "spl"): DataFrame = {
    require(cuts.nonEmpty && math.abs(cuts.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val u = hash16(col("cluster"), salt).cast("double") / lit(65536.0)
    val bounds = splitBounds(cuts)
    val split = bounds.init.reverse.foldLeft(lit(bounds.last._1)) {
      case (acc, (nm, ub)) => when(u < ub, lit(nm)).otherwise(acc)
    }
    clusters.select(col("doc_id"), col("cluster"), split.as("split"))
  }

  /** Per-source document cap (the C4/RefinedWeb cap-per-domain step):
    * keep at most `cap` documents per source, chosen as a
    * deterministic uniform sample (md5 order over `salt:doc_id`, so
    * the kept set is reproducible and salt-rotatable like
    * [[shardShuffle]]).
    *
    * Scale shape — deliberately NOT the row_number window: a cap is a
    * per-group bottom-k, and the mergeable
    * [[graft.functions.BottomKByHash]] sketch computes it with
    * MAP-SIDE PARTIAL aggregation — each task keeps at most `cap` rows
    * per source before the shuffle, so a viral domain with 10⁹ docs
    * ships `cap` candidates per task instead of sorting 10⁹ rows in
    * one window partition. The kept ids come back as the sketch value
    * (doc_id, exact below 2^53 as double); a semi-join restores the
    * rows. doc_id is unique, satisfying the sketch's unique-key
    * contract. Ids beyond ±2^53 would silently corrupt in the double
    * round-trip and under-cap with no error — the guard below turns
    * that into a loud per-row failure instead.
    */
  def sourceCap(docs: DataFrame, cap: Int, salt: String = "cap"): DataFrame = {
    val maxExact = 1L << 53
    val idAsDouble = when(col("doc_id").between(-maxExact, maxExact),
        col("doc_id").cast("double"))
      .otherwise(raise_error(concat(
        lit("sourceCap: doc_id outside ±2^53 cannot round-trip through "
          + "the sketch's double value slot: "), col("doc_id").cast("string"))))
    val kept = docs.groupBy(col("source"))
      .agg(graft.functions.BottomKByHash(idAsDouble,
        concat(lit(salt + ":"), col("doc_id").cast("string")), cap).as("ids"))
      .select(explode(col("ids")).as("id_d"))
      .select(col("id_d").cast("long").as("doc_id"))
    // semi-join on doc_id ALONE: ids are globally unique, and a
    // (source, doc_id) key would null-drop every NULL-source doc while
    // groupBy (and the oracle's PARTITION BY) keep NULL as its own
    // group entitled to its cap
    docs.join(kept, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("lang"))
  }

  /** Deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis exponential keys): keep the `n` docs per
    * language with the largest ln(u)/w, where u is the 48-bit md5
    * fraction of `salt:doc_id` and w is the inline
    * [[TextOps.qualityCol]] score — so inclusion probability tracks
    * the weight (the DCLM-style "sample the best-looking subset"
    * selection), the output size is exactly min(n, eligible) per
    * language, and, because u is a hash rather than `rand`, the whole
    * draw is reproducible across runs, partitionings, and engines.
    * Zero-weight and NULL-quality docs are ineligible (the A-ES
    * convention: ln(u)/0 → −∞).
    *
    * Scale shape: the rank key is a pure map over the scan;
    * selection reuses [[TextOps.topNgrams]]' two-stage plan — a
    * partition-local top-n prune (the local top-n is a superset of
    * the global one) so the exact global window sees ≤ n·partitions
    * rows per language, never the corpus.
    *
    * @return (doc_id, lang, weight, rk) — rk 1..n by descending key
    */
  def weightedSample(docs: DataFrame, n: Int = 50,
      salt: String = "wsm"): DataFrame = {
    val u = conv(substring(md5(concat(lit(salt + ":"),
        col("doc_id").cast("string"))), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0) // 2^48
    val scored = TextOps.spread(docs)
      .select(col("doc_id"), col("lang"),
        TextOps.qualityCol(col("text")).as("weight"), log(u).as("lnu"))
      .where(col("weight") > 0.0)
      .select(col("doc_id"), col("lang"), col("weight"),
        (col("lnu") / col("weight")).as("rank_key"))
    val local = Window.partitionBy(spark_partition_id(), col("lang"))
      .orderBy(col("rank_key").desc, col("doc_id"))
    val pruned = scored.withColumn("lrn", row_number().over(local))
      .where(col("lrn") <= n).drop("lrn")
    val global = Window.partitionBy(col("lang"))
      .orderBy(col("rank_key").desc, col("doc_id"))
    pruned.withColumn("rk", row_number().over(global).cast("int"))
      .where(col("rk") <= n)
      .select(col("doc_id"), col("lang"), col("weight"), col("rk"))
  }

  /** Systematic probability-proportional-to-size sampling (Madow
    * 1949) — the OTHER classic weighted draw beside [[weightedSample]]'s
    * A-ES reservoir: k selection points march through the cumulative
    * weight line at step W/k, and each document is hit once per point
    * landing in its weight interval — so inclusion count is
    * DETERMINISTIC (⌈k·wᵢ/W⌉ or ⌊k·wᵢ/W⌋, exactly proportional up to
    * rounding), Σ hits = k exactly, and a document heavier than W/k
    * is drawn with multiplicity (the PPS convention). Zero randomness:
    * the offset is fixed at the interval END (points at m·W/k,
    * m = 1..k) — production would hash-derive the offset; determinism
    * is this engine's contract.
    *
    * All arithmetic exact integers: cumulative weights from the
    * two-level [[graft.ops.Scan.globalRunningSums]] (never a
    * single-task sort), hits per doc = ⌈cumᵢ·k/W⌉ − ⌈cumᵢ₋₁·k/W⌉ in
    * decimal(38,0) ceil-division — both engines compute the identical
    * counts at any partitioning.
    *
    * @param weightCol positive size/quality weight (NULL/≤0 rows are
    *                  ineligible)
    * @return sampled docs only: (doc_id, w, cum, n_hits ≥ 1)
    */
  def ppsSystematic(docs: DataFrame, weightCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1, "PPS sample size must be >= 1")
    val w = docs
      .where(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col("doc_id"), col(weightCol).cast("long").as("w"))
    val scanned = graft.ops.Scan.globalRunningSums(w, Seq("doc_id"),
      Seq(col("w") -> "cum"))
    val tot = w.agg(sum(col("w")).cast("decimal(38,0)").as("wt"))
    scanned.crossJoin(broadcast(tot))
      .withColumn("hi",
        expr(s"(cast(cum as decimal(38,0)) * $k + wt - 1) div wt"))
      .withColumn("lo",
        expr(s"((cast(cum as decimal(38,0)) - w) * $k + wt - 1) div wt"))
      .where(col("hi") > col("lo"))
      .select(col("doc_id"), col("w"), col("cum"),
        (col("hi") - col("lo")).cast("int").as("n_hits"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    * "Data Selection for Language Models via Importance Resampling"):
    * score every corpus document by how much its HASHED-UNIGRAM
    * distribution looks like a TARGET corpus rather than the raw
    * corpus,
    *
    *   logw(doc) = Σ_b n_doc(b) · ( ln p̂_target(b) − ln p̂_raw(b) ),
    *
    * with b ranging over `buckets` md5-hashed token buckets and both
    * distributions Laplace-smoothed ((count+1)/(total+buckets), so
    * empty buckets stay finite). The published pipeline then resamples
    * ∝ exp(logw) — which here is literally
    * [[weightedSample]] fed `exp(logw)` as the weight column, so
    * selection composes from existing machinery and this operator's
    * contract is the weights themselves.
    *
    * Scale shape: token bucketing is a pure map (the [[hash16]] md5
    * family, oracle-re-derivable); both distributions are ONE bounded
    * hash aggregate each (≤ `buckets` rows, map-side combined — the
    * target side additionally only scans the target frame, typically
    * tiny); the log-ratio table is ≤ `buckets` rows and broadcasts;
    * and the per-doc weight is a doc-keyed aggregate over the doc's
    * own distinct buckets. Nothing quadratic, nothing collected: the
    * corpus is scanned once for features and once for scoring.
    *
    * Output doubles follow the float-edge parity rule (QueryPack):
    * `logw` is rounded then FLOAT-cast, absorbing aggregation-order
    * drift.
    *
    * @param target frame with a `text` column defining the desired
    *               distribution (an eval suite, a trusted high-quality
    *               corpus slice); disjoint from `docs` is fine. An
    *               EMPTY target yields NULL `logw` for every doc (the
    *               1-row histogram aggregate has no rows to total) —
    *               loudly useless rather than silently uniform.
    * @return one row per non-empty doc: (doc_id, lang, n_toks, logw)
    */
  def dsirWeights(docs: DataFrame, target: DataFrame,
      buckets: Int = 64): DataFrame = {
    def feats(frame: DataFrame): DataFrame =
      TextOps.spread(frame)
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("w"))
        .withColumn("b", (hash16(col("w"), "dsir") % buckets).cast("int"))
    val docFeats = feats(docs)
    // raw/target bucket histograms, each carried to a single row so the
    // (bucket, count, total) table stays joinable as one broadcast
    def hist(f: DataFrame): DataFrame = f.groupBy(col("b"))
      .agg(count(lit(1)).as("c"))
      .agg(collect_list(struct(col("b"), col("c"))).as("h"),
        sum(col("c")).as("tot"))
    // ln p̂ ratio per bucket, built driver-free: explode the two 1-row
    // histograms against a dense bucket spine (absent buckets must
    // still land their Laplace mass)
    val spine = docs.sparkSession.range(buckets)
      .select(col("id").cast("int").as("b"))
    def side(feat: DataFrame, cName: String, tName: String): DataFrame =
      spine.crossJoin(broadcast(hist(feat)))
        .select(col("b"),
          coalesce(element_at(
            map_from_entries(col("h")), col("b")), lit(0L)).as(cName),
          col("tot").as(tName))
    val lr = side(docFeats, "cr", "tr")
      .join(side(feats(target), "ct", "tt"), "b")
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
         log((col("cr") + 1).cast("double") / (col("tr") + buckets)))
          .as("lr"))
    docFeats.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("nb"))
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("nb")).cast("int").as("n_toks"),
        round(sum(col("nb") * col("lr")), 4).cast("float").as("logw"))
  }

  /** Slice-vs-slice shingle overlap from MERGED KMV SKETCHES — "how
    * much does corpus slice B's n-gram content overlap slice A's?"
    * (yesterday vs today's crawl, source vs source, corpus vs an
    * external dump) answered per language WITHOUT any pairwise join:
    * each side is one scan into a bottom-k sketch of its distinct
    * shingle hashes, and union/intersection come from plain array math
    * over the two ≤ k-element samples via the KMV identity — a hash
    * among the union's k smallest that belongs to side A is
    * necessarily among A's k smallest, so sketch membership IS set
    * membership for the union sample [Beyer et al. 2007].
    *
    * Estimates: `j_est = k_both / k_union` (the Jaccard estimator over
    * the union sample; exact when the union has < k distinct
    * shingles), `est_union` the [[graft.functions.BottomKByHash
    * .kmvDistinct]] (k−1)/u₍ₖ₎ inversion. All md5-deterministic: the
    * 48-bit fractions are exact doubles, the set algebra is exact
    * integer counting, so the oracle re-derives every column.
    * Duplicate-fraction collisions across distinct shingles (~k²/2⁴⁹)
    * collapse identically on both engines (the contract is defined on
    * fractions, which the oracle also groups by).
    *
    * The 100 TB story: an exact slice-overlap is a distinct-shingle
    * join — shuffling every distinct n-gram of both corpora. This is
    * two independent one-scan sketches (map-side combined, O(k·|langs|)
    * state) and a ≤ k-element array merge per language; the slices
    * never meet in a shuffle at all.
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, n: Int = 3,
      k: Int = 128): DataFrame = {
    import graft.functions.BottomKByHash
    def side(f: DataFrame, nm: String): DataFrame =
      TextOps.spread(f)
        .select(col("lang"),
          explode(TextOps.shingleSet(TextOps.tokens(col("text")), n)).as("s"))
        .groupBy(col("lang"))
        .agg(BottomKByHash.kmvSample(col("s"), k).as(nm))
    val empty = array().cast("array<double>")
    val uk = slice(array_sort(array_distinct(
      concat(col("ka"), col("kb")))), 1, k)
    side(a, "ka").join(side(b, "kb"), Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("ka"), empty).as("ka"),
        coalesce(col("kb"), empty).as("kb"))
      .withColumn("uk", uk)
      .withColumn("k_both", size(filter(col("uk"), x =>
        array_contains(col("ka"), x) && array_contains(col("kb"), x))))
      .select(col("lang"),
        size(col("ka")).as("k_a"), size(col("kb")).as("k_b"),
        // a lang row exists only if some side had a shingle, so the
        // union sample is never empty and the ratio is well-defined
        size(col("uk")).as("k_union"), col("k_both"),
        round(col("k_both").cast("double") / size(col("uk")), 4)
          .cast("float").as("j_est"),
        round(BottomKByHash.kmvEstimate(col("uk"), k), 4)
          .cast("float").as("est_union"))
  }

  /** Per-language quality-percentile gate — the "keep the best
    * `keepFrac` of each language" curation step (CCNet buckets its
    * corpus by exactly this kind of per-language quality cut). The
    * threshold is the (1−keepFrac) quantile of
    * [[TextOps.qualityScore]]'s `quality`, estimated from the
    * deterministic bottom-k-by-hash sketch with the SAME
    * floor-index arithmetic as the q103 quantile profile — NOT a
    * per-language full sort: one scan builds O(k·|langs|) thresholds
    * (map-side-combined sketch merge), and the gate itself is a
    * broadcast join of the ≤|langs|-row threshold table plus a
    * codegen'd `quality >= q_thr` filter, at any corpus size. Below k
    * docs per language the sample IS the population and the threshold
    * is the exact percentile. Docs with NULL quality (empty texts)
    * are dropped by the filter's NULL semantics on both engines.
    *
    * @return kept rows: (doc_id, lang, quality, q_thr)
    */
  def qualityGate(docs: DataFrame, keepFrac: Double = 0.5,
      k: Int = 200): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac in (0, 1]")
    // quality computed INLINE with lang carried, then the narrow
    // (doc_id, lang, quality) triple checkpointed: it feeds BOTH the
    // sketch and the verdict join, and recomputing it would tokenize
    // the corpus text twice — the triple is ~20 bytes/doc, the scan
    // it saves is the whole text column
    val scored = docs.select(col("doc_id"), col("lang"),
      TextOps.qualityCol(col("text")).as("quality"))
      .transform(Checkpoints(_))
    val sk = scored.groupBy(col("lang"))
      .agg(graft.functions.BottomKByHash(
        col("quality"), col("doc_id"), k).as("vs"))
    val sorted = sort_array(col("vs"))
    val idx = (floor(lit(1.0 - keepFrac) * (size(col("vs")) - 1)) + 1)
      .cast("int")
    // a language whose docs are all NULL-quality yields an empty
    // sketch — no threshold row, so the inner join drops the language
    // (matching the oracle) instead of faulting on element_at(arr, 0)
    val thr = sk.where(size(col("vs")) > 0)
      .select(col("lang"), element_at(sorted, idx).as("q_thr"))
    scored.join(broadcast(thr), Seq("lang"))
      .where(col("quality") >= col("q_thr"))
      .select(col("doc_id"), col("lang"), col("quality"), col("q_thr"))
  }

  /** Quality-CURRICULUM ordering — the annealing schedule modern
    * pre-training runs use (highest-quality data concentrated at the
    * end of training): every document gets a training `phase` from its
    * per-language quality quantile — phase 0 = lowest-quality band,
    * trained first; `phases−1` = the top band, annealed last — plus a
    * deterministic md5 `order_key` for the within-phase shuffle. The
    * loader realizes the schedule by sorting on
    * (phase, order_key, doc_id); no global sort is materialized here.
    *
    * Phase cut points are the i/phases quantiles (i = 1..phases−1) of
    * [[TextOps.qualityScore]]'s quality, estimated per language from
    * the SAME bottom-k-by-hash sketch and floor-index arithmetic as
    * [[qualityGate]] — one scan builds O(k·|langs|) thresholds, the
    * assignment is a broadcast join + codegen'd CASE at any corpus
    * size. NULL-quality docs (empty texts) are out of contract, as in
    * [[qualityGate]].
    */
  def curriculumOrder(docs: DataFrame, phases: Int = 3, k: Int = 200,
      salt: String = "cur"): DataFrame = {
    require(phases >= 2, s"a curriculum needs >= 2 phases, got $phases")
    // the scored triple feeds the sketch AND the verdict join — same
    // two-consumer checkpoint as qualityGate
    val scored = docs.select(col("doc_id"), col("lang"),
        TextOps.qualityCol(col("text")).as("quality"))
      .where(col("quality").isNotNull)
      .transform(Checkpoints(_))
    val sk = scored.groupBy(col("lang"))
      .agg(graft.functions.BottomKByHash(
        col("quality"), col("doc_id"), k).as("vs"))
    val sorted = sort_array(col("vs"))
    val thrCols = (1 until phases).map { i =>
      element_at(sorted,
        (floor(lit(i.toDouble / phases) * (size(col("vs")) - 1)) + 1)
          .cast("int")).as(s"thr_$i")
    }
    val thr = sk.where(size(col("vs")) > 0)
      .select(col("lang") +: thrCols: _*)
    // highest matching threshold wins; the sorted sample guarantees
    // thr_1 <= ... <= thr_{phases-1}, so the chain is well-ordered
    val phase = (1 until phases).foldLeft(lit(0): Column) { (acc, i) =>
      when(col("quality") >= col(s"thr_$i"), lit(i)).otherwise(acc)
    }
    scored.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality"),
        phase.cast("int").as("phase"),
        hash16(col("doc_id"), salt).as("order_key"))
  }

  /** The ALLOCATION half of corpus curation, composed end-to-end —
    * the round-6 counterpart of [[corpusPipeline]] (which composes
    * the cleaning half): [[sourceCap]] per-domain caps →
    * [[assignSplits]] train/val/test → [[packManifest]] over the
    * SURVIVING corpus (cumulative token sums run over kept docs only,
    * exactly as a production run packs what it kept). Output: one row
    * per (kept doc × context window it occupies) with its source,
    * split, and packing coordinates — the complete loader allocation
    * record.
    */
  def curationSlice(docs: DataFrame, cap: Int = 10, budget: Int = 256,
      nStreams: Int = 8): DataFrame = {
    val kept = sourceCap(docs, cap)
    val base = docs.join(kept.select(col("doc_id")), "doc_id")
      .transform(Checkpoints(_)) // feeds splits AND packing
    packManifest(base, budget, nStreams)
      .join(assignSplits(base).select(col("doc_id"), col("split")), "doc_id")
      .join(kept.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("split"),
        col("shard"), col("pack_id"),
        col("start_in_window"), col("len_in_window"))
  }

  /** Mixture accounting: per-language document/token counts, the
    * language's share of all tokens, and the up/down-sampling weight
    * that would move the corpus to `targetShare` per language
    * (default: uniform over the observed languages is the caller's
    * choice; absent languages get `defaultShare`).
    */
  def mixWeights(docs: DataFrame, targetShare: Map[String, Double] = Map.empty,
                 defaultShare: Double = 0.2): DataFrame = {
    val tgt = targetShare.foldLeft(lit(defaultShare): Column) {
      case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
    }
    // the per-lang aggregate feeds BOTH the normalization constant and
    // the output projection: checkpoint the ≤ |langs|-row frame so the
    // corpus-wide scan + tokenize runs ONCE, not once per consumer
    val agg = docs
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"))
      .transform(Checkpoints(_))
    val total = agg.agg(sum("n_tokens").as("total_tokens"))
    val share = col("n_tokens").cast("double") / col("total_tokens")
    agg.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(share, 6).cast("float").as("share"),
        round(tgt / share, 4).cast("float").as("weight"))
  }

  /** Temperature-scaled mixture weights — the published multilingual
    * sampling rule (mBERT's exponentiated smoothing; XLM-R trains with
    * α = 0.3): instead of handing [[mixWeights]] explicit target
    * shares, the target is DERIVED from the observed token mass,
    * `temp_share_l ∝ n_tokens_l^α`, normalized over languages. α = 1
    * reproduces the raw shares (weight 1 everywhere); α → 0 approaches
    * uniform; in between, tail languages are up-weighted smoothly
    * without the cliff of a hand-picked share table.
    *
    * Reproducibility: `weight` divides the RAW tempered share by the
    * RAW share ([[mixWeights]]' discipline — the rounded `share` can
    * be exactly 0.000000 for an ultra-tail language, and dividing by
    * it would NULL out precisely the language temperature sampling
    * exists to up-weight); the only cross-engine float surface is the
    * `pow`/`sum` last-ulp under `round` — the same accepted class as
    * [[mixWeights]]' division. The weight column plugs into
    * [[materializeMix]]'s copy-count machinery unchanged.
    *
    * Scale shape: identical to [[mixWeights]] — one groupBy on lang,
    * one ≤ |langs|-row broadcast of the normalization constants.
    */
  def mixWeightsTemperature(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"temperature exponent must be in (0, 1], got $alpha")
    // as in [[mixWeights]]: the ≤ |langs|-row aggregate has two
    // consumers (normalization + output) — checkpoint so the corpus
    // scan + tokenize runs once
    val agg = docs
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("wr", pow(col("n_tokens").cast("double"), lit(alpha)))
      .transform(Checkpoints(_))
    val norm = agg.agg(sum("n_tokens").as("total_tokens"), sum("wr").as("z"))
    val rawShare = col("n_tokens").cast("double") / col("total_tokens")
    agg.crossJoin(broadcast(norm))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(rawShare, 6).cast("float").as("share"),
        round(col("wr") / col("z"), 6).cast("float").as("temp_share"),
        round((col("wr") / col("z")) / rawShare, 4).cast("float")
          .as("weight"))
  }

  /** Cluster-balanced downsampling — SOFT near-dup dedup: instead of
    * [[graft.llm.Dedup.clusterDedup]]'s keep-one-per-cluster rule,
    * every document keeps with probability `sqrt(size)/size`, so a
    * cluster of n near-dups contributes √n expected survivors. Heavy
    * boilerplate clusters collapse hard (10⁶ copies → ~10³), genuine
    * small clusters keep most of their variation, and singletons are
    * always kept (rate 1, and the md5-uniform is ≤ 65535/65536 < 1) —
    * the cluster-aware downsampling curve used when hard dedup throws
    * away too much diversity.
    *
    * The keep decision is the [[stratifiedSample]] discipline:
    * `hash16(doc_id)/65536 < rate` — deterministic, partition-
    * independent, salt-rotatable. The √n curve is chosen over a
    * general `size^β` because IEEE sqrt and divide are EXACTLY
    * rounded: `sqrt(size)/size` is bit-identical in Spark and DuckDB,
    * so rate and verdict sit under the full hash-gate oracle with no
    * rounding hedge (a libm `pow` would not guarantee that).
    *
    * Scale shape: inherits [[graft.llm.Dedup.dupClusters]]' banded
    * candidate join + pointer-jumped CC; the sampling itself adds one
    * map over the (doc_id, cluster, size) triples — text never moves.
    */
  def clusterBalancedSample(docs: DataFrame, maxHamming: Int = 3,
      bits: Int = Dedup.simhashBits, salt: String = "cbs"): DataFrame =
    clusterBalancedSample(
      Dedup.dupClusters(docs, maxHamming, bits = bits), salt)

  /** [[clusterBalancedSample]] over PRECOMPUTED cluster labels
    * ([[graft.llm.Dedup.dupClusters]] output) — the
    * [[graft.llm.Dedup.clusterDedup]] overload pattern: composed
    * pipelines that already hold the labels skip the whole
    * simhash + connected-components recompute (the dominant cost of
    * the one-argument form) and pay only the pure-map decoration.
    */
  def clusterBalancedSample(clusters: DataFrame,
      salt: String): DataFrame = {
    val size = col("cluster_size").cast("double")
    clusters
      .withColumn("rate", sqrt(size) / size)
      .withColumn("keep",
        hash16(col("doc_id"), salt).cast("double") / lit(65536.0)
          < col("rate"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("rate"), col("keep"))
  }

  /** Mixture MATERIALIZATION — applies [[mixWeights]]' per-language
    * re-weighting factors as actual per-document copy counts, the
    * epoch-sampling step a pre-training loader consumes: each doc is
    * emitted `floor(weight)` times plus one more when its md5-uniform
    * value falls below the fractional residual (deterministic
    * Bernoulli — no rand, reproducible, salt-rotatable per epoch). Per
    * language the expected emitted mass is exactly `weight × n_docs`,
    * so the materialized corpus hits the target shares in expectation;
    * languages with weight < 1 are downsampled (some docs emit zero
    * copies), weight > 1 upsampled (all docs emit ≥ floor(weight)).
    *
    * Scale shape: the weight table is ≤ |languages| rows (broadcast);
    * everything else is a map + explode.
    */
  def materializeMix(docs: DataFrame,
      targetShare: Map[String, Double] = Map.empty,
      defaultShare: Double = 0.2, salt: String = "mix"): DataFrame =
    materializeMix(docs,
      mixWeights(docs, targetShare, defaultShare)
        .select(col("lang"), col("weight")), salt)

  /** [[materializeMix]] over a PRECOMPUTED per-language weight table —
    * the composition surface: feed it [[mixWeightsTemperature]]'s
    * tempered weights (or any externally-decided (lang, weight)
    * frame) and the same floor + md5-Bernoulli-residual copy-count
    * machinery applies. The table is broadcast, so the only corpus
    * cost is the one map + explode.
    */
  def materializeMix(docs: DataFrame, weights: DataFrame,
      salt: String): DataFrame = {
    val wts = weights.select(col("lang"), col("weight"))
    docs.join(broadcast(wts), "lang")
      .withColumn("u", hash16(col("doc_id"), salt).cast("double") / lit(65536.0))
      .withColumn("n_copies", (floor(col("weight")) +
        when(col("u") < col("weight") - floor(col("weight")), lit(1))
          .otherwise(lit(0))).cast("int"))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("n_copies"),
        explode(sequence(lit(1), col("n_copies"))).as("copy"))
  }

  /** The END-TO-END corpus preparation pipeline — the composition a
    * pre-training data job actually runs, demonstrating that the
    * stage operators compose without recomputation:
    *
    *   1. [[TextOps.gopherFilter]] quality gate (keep = true),
    *   2. [[Dedup.clusterDedup]] near-dup dedup (best doc per simhash
    *      cluster, via the precomputed-labels overload),
    *   3. [[decontaminate]] benchmark removal (bench docs AND any doc
    *      sharing an 8-shingle with one),
    *   4. [[shardShuffle]] + [[packStream]] over the final corpus.
    *
    * Output: one row per surviving document with its cluster, quality,
    * shard/position, and packing coordinates.
    *
    * Frame sharing: each stage's survivor frame is consumed by 2+
    * downstream operators, so it is eagerly `localCheckpoint`ed —
    * without that, Spark would re-run the gopher gate once per
    * consumer and the logical plan would nest every stage inside the
    * next (the ConnectedComponents OOM lesson). At warehouse scale the
    * same slots become checkpoints/intermediate tables; the stage
    * boundaries are exactly where a production pipeline would persist.
    */
  def corpusPipeline(docs: DataFrame, maxHamming: Int = 3,
      benchEvery: Int = 50, shingleN: Int = 8,
      nShards: Int = 8, budget: Int = 256): DataFrame = {
    val gated = TextOps.gopherFilter(docs)
      .where(col("keep")).select(col("doc_id"))
    val s1 = docs.join(gated, "doc_id")
      .select(col("doc_id"), col("lang"), col("text"))
      .transform(Checkpoints(_))
    val cd = Dedup.clusterDedup(s1, Dedup.dupClusters(s1, maxHamming))
    val s2 = s1.join(
        cd.where(col("keep"))
          .select(col("doc_id"), col("cluster"), col("quality")), "doc_id")
      .transform(Checkpoints(_))
    val dec = decontaminate(s2, benchEvery, shingleN)
    val s3 = s2.where(col("doc_id") % benchEvery =!= 0)
      .join(dec.select("doc_id"), Seq("doc_id"), "left_anti")
      .transform(Checkpoints(_))
    // packStream's default (lang, shard) stream key reuses shardShuffle's
    // md5 shard math (same salt "ep0"), so joining on (doc_id, shard)
    // is lossless by construction: each output shard is packed
    // independently, exactly how the loader will stream it.
    s3.select(col("doc_id"), col("cluster"), col("quality"))
      .join(shardShuffle(s3, nShards), "doc_id")
      .join(packStream(s3, budget, nShards), Seq("doc_id", "shard"))
      .select(col("doc_id"), col("lang"), col("cluster"), col("quality"),
        col("n_tok"), col("shard"), col("pos"),
        col("pack_id"), col("n_windows"), col("pack_offset"))
  }

  /** The DAY-2 ingest pipeline — the incremental counterpart of
    * [[corpusPipeline]]: an incoming batch (rows where
    * `isNewId(doc_id)`) is gated and delta-deduplicated against the
    * standing corpus, which the previous run already gated and
    * deduplicated and therefore must never re-pair with itself.
    *
    *   1. [[TextOps.gopherFilter]] quality gate over the NEW batch only;
    *   2. [[Dedup.jaccardPairsDelta]] + [[Dedup.simhashPairsDelta]] over
    *      corpus ∪ gated batch — both prune old×old pairs inside their
    *      candidate joins, so per-run cost tracks the batch's candidate
    *      fan-out, not the corpus pair space;
    *   3. admission: a new doc is rejected by any near-dup pair with an
    *      old doc, or with a SMALLER-id new doc (first-occurrence claim
    *      within the batch — non-recursive, so the decision is a plain
    *      aggregation, not a chained dependency).
    *
    * `isNewId` must derive newness from the doc_id column alone (a
    * batch tag / id range in production) because it is re-evaluated on
    * both sides of the pair frames.
    *
    * @return one row per batch doc: (doc_id, gate_keep, n_dup_jaccard,
    *         n_dup_simhash, admitted), where the counts are rejecting
    *         partners per family.
    */
  def day2Ingest(docs: DataFrame, isNewId: Column => Column,
      jaccardThreshold: Double = 0.3, maxHamming: Int = 3): DataFrame =
    day2Core(docs, isNewId, jaccardThreshold, maxHamming,
      withWinnow = false)

  /** [[day2Ingest]] with the THIRD dedup family composed in: the
    * winnowed substring-overlap delta ([[Dedup.winnowedPairsDelta]])
    * joins gate + Jaccard + simhash in the admission rule, so a new
    * doc sharing a verbatim ≥ 8-token run with the corpus — the
    * leakage whole-doc similarity dilutes away — also fails
    * admission, under the same first-claim rule. All three pair
    * families derive from the ONE materialized world frame; the
    * winnow join is fp-keyed over the bounded sketches (never the
    * token streams) with the world-global stop-fp cap.
    *
    * @return day2Ingest's columns + n_dup_winnow, admitted extended
    */
  def day2IngestWinnow(docs: DataFrame, isNewId: Column => Column,
      jaccardThreshold: Double = 0.3, maxHamming: Int = 3): DataFrame =
    day2Core(docs, isNewId, jaccardThreshold, maxHamming,
      withWinnow = true)

  private def day2Core(docs: DataFrame, isNewId: Column => Column,
      jaccardThreshold: Double, maxHamming: Int,
      withWinnow: Boolean): DataFrame = {
    val isNewDoc = isNewId(col("doc_id"))
    val batch = docs.where(isNewDoc)
    val corpus = docs.where(!isNewDoc)
    val gated = TextOps.gopherFilter(batch)
      .where(col("keep")).select(col("doc_id"))
    // the union feeds EVERY delta-pair job — materialize once, exactly
    // where a production run would persist the day's gated batch
    val world = corpus.select(col("doc_id"), col("lang"), col("text"))
      .unionByName(batch.select(col("doc_id"), col("lang"), col("text"))
        .join(gated, "doc_id"))
      .transform(Checkpoints(_))
    val jp = Dedup.jaccardPairsDelta(world, isNewDoc,
      threshold = jaccardThreshold)
    val sp = Dedup.simhashPairsDelta(world, isNewDoc, maxHamming)
    // rejecting partners of a new doc n: any pair (·, n), plus (n, old)
    // — pairs are (da < db), so (smaller-new, n) rejects n while
    // (n, bigger-new) leaves n standing (the first-claim rule)
    def rejections(pairs: DataFrame): DataFrame =
      pairs.where(isNewId(col("db"))).select(col("db").as("doc_id"))
        .unionByName(pairs.where(isNewId(col("da")) && !isNewId(col("db")))
          .select(col("da").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n"))
    val jr = rejections(jp.select(col("da"), col("db")))
    val sr = rejections(sp.select(col("da"), col("db")))
    val base = batch.select(col("doc_id"))
      .join(gated.withColumn("gk", lit(true)), Seq("doc_id"), "left")
      .join(jr.withColumnRenamed("n", "nj"), Seq("doc_id"), "left")
      .join(sr.withColumnRenamed("n", "ns"), Seq("doc_id"), "left")
    val admittedBase =
      coalesce(col("gk"), lit(false)) &&
        coalesce(col("nj"), lit(0)) === 0 &&
        coalesce(col("ns"), lit(0)) === 0
    if (!withWinnow)
      base.select(col("doc_id"),
        coalesce(col("gk"), lit(false)).as("gate_keep"),
        coalesce(col("nj"), lit(0)).as("n_dup_jaccard"),
        coalesce(col("ns"), lit(0)).as("n_dup_simhash"),
        admittedBase.as("admitted"))
    else {
      val wr = rejections(Dedup.winnowedPairsDelta(world, isNewDoc)
        .select(col("da"), col("db")))
      base.join(wr.withColumnRenamed("n", "nw"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("gk"), lit(false)).as("gate_keep"),
          coalesce(col("nj"), lit(0)).as("n_dup_jaccard"),
          coalesce(col("ns"), lit(0)).as("n_dup_simhash"),
          coalesce(col("nw"), lit(0)).as("n_dup_winnow"),
          (admittedBase && coalesce(col("nw"), lit(0)) === 0)
            .as("admitted"))
    }
  }

  /** The FULL production day-2 admission rule — [[day2Ingest]]'s
    * gate + both delta dedup families, COMPOSED with
    * external-benchmark [[decontaminate]]: a new document is admitted
    * iff it clears the gopher gate, is nobody's near-dup (first-claim
    * rule), AND shares no `shingleN`-shingle with the eval suite.
    * Contamination is counted over the WHOLE batch (a gate-rejected
    * doc still reports its `n_contaminated` — the audit row a
    * pipeline operator wants to see), then folded into `admitted`.
    *
    * Scale shape: inherits [[day2Ingest]]'s delta joins (old×old
    * pruned in-join) plus [[decontaminate]]'s broadcast benchmark
    * index — per-run cost still tracks batch fan-out, never corpus
    * pair space.
    *
    * @return (doc_id, gate_keep, n_dup_jaccard, n_dup_simhash,
    *         n_contaminated, admitted) — one row per batch doc
    */
  def day2Admit(docs: DataFrame, isNewId: Column => Column,
      bench: DataFrame, jaccardThreshold: Double = 0.3,
      maxHamming: Int = 3, shingleN: Int = 8): DataFrame = {
    val base = day2Ingest(docs, isNewId, jaccardThreshold, maxHamming)
    val cont = decontaminate(docs.where(isNewId(col("doc_id"))), bench,
        shingleN)
      .select(col("doc_id"),
        col("n_contaminated").cast("int").as("n_contaminated"))
    base.join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gate_keep"), col("n_dup_jaccard"),
        col("n_dup_simhash"),
        coalesce(col("n_contaminated"), lit(0)).as("n_contaminated"),
        (col("admitted") &&
          coalesce(col("n_contaminated"), lit(0)) === 0).as("admitted"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * n-token shingle with a held-out benchmark set (here: every
    * `benchEvery`-th doc_id, standing in for an eval suite). Returns
    * one row per contaminated document with the count of contaminated
    * shingles and the smallest matching benchmark doc.
    *
    * The benchmark shingle index is broadcast — eval suites are tiny
    * relative to a pre-training corpus — so the corpus side stays a
    * narrow scan + broadcast-hash semi-join at any scale.
    */
  def decontaminate(docs: DataFrame, benchEvery: Int = 50, n: Int = 8): DataFrame =
    decontaminate(docs.filter(col("doc_id") % benchEvery =!= 0),
      docs.filter(col("doc_id") % benchEvery === 0), n)

  /** The EXTERNAL-BENCHMARK form — the API a production pipeline
    * actually calls: `bench` is its own frame (an eval suite loaded
    * from wherever it lives), not a modulus carve-out of the corpus.
    * Same contract as the `benchEvery` form (which delegates here):
    * one row per contaminated corpus document with the count of
    * benchmark-shared `n`-shingles and the smallest matching benchmark
    * doc_id. Corpus and benchmark may use disjoint id spaces — only
    * shingle CONTENT joins them.
    *
    * Scale shape: the benchmark shingle index is broadcast (eval
    * suites are tiny relative to a pre-training corpus), so the corpus
    * side stays a narrow scan + broadcast-hash join + doc_id-keyed
    * aggregate at any scale; `spread` first so shingling parallelizes
    * past the scan's row-group layout.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    val corpusSh = TextOps.shingleRows(TextOps.spread(corpus), n)
    val benchSh = TextOps.shingleRows(bench, n)
      .select(col("doc_id").as("bench_id"), col("s"))
    corpusSh.join(broadcast(benchSh), Seq("s"))
      .groupBy("doc_id")
      .agg(countDistinct(col("s")).as("n_contaminated"),
        min(col("bench_id")).as("first_bench"))
  }

  /** FRACTION-THRESHOLD decontamination — the published practice
    * (GPT-3/PaLM-style n-gram overlap rules): a document is
    * contaminated when at least `minFrac` of its distinct n-shingles
    * appear in the benchmark, not when ANY does. [[decontaminate]]'s
    * zero-tolerance rule flags boilerplate-heavy corpora wholesale;
    * the fraction rule tolerates incidental phrase overlap while
    * still catching real leakage, and the score itself is the audit
    * column an ops review reads.
    *
    * Output: one row per corpus doc that has ≥ 1 shingle (docs
    * shorter than n tokens have no overlap surface) — total distinct
    * shingles, benchmark-shared count, overlap fraction, verdict.
    *
    * Scale shape: same broadcast benchmark index as
    * [[decontaminate]], but totals and hits land in ONE doc-keyed
    * aggregate — the distinct bench shingle set left-joins each
    * (doc, shingle) row at most once, so `count(hit)` IS the shared
    * distinct count and the corpus is scanned exactly once. The
    * fraction is a ratio of exact integers < 2^53, so the double
    * divides identically everywhere and even the verdict boolean
    * sits under the hash-gate oracle.
    */
  def decontaminateFrac(corpus: DataFrame, bench: DataFrame,
      n: Int = 8, minFrac: Double = 0.05): DataFrame = {
    val corpusSh = TextOps.shingleRows(TextOps.spread(corpus), n)
    val benchSh = TextOps.shingleRows(bench, n).select(col("s")).distinct()
    corpusSh
      .join(broadcast(benchSh.withColumn("hit", lit(1))), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("frac",
        col("n_contaminated").cast("double") / col("n_shingles"))
      .withColumn("contaminated", col("frac") >= minFrac)
  }
}
