package graft.llm

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication: exact (hash groupBy), exact-Jaccard via an
  * inverted shingle index, and banded MinHash LSH.
  *
  * Scale notes (the part that matters at 100 TB):
  *  - exact dedup is one hash-partitioned groupBy on the fingerprint —
  *    embarrassingly parallel;
  *  - [[jaccardPairs]] joins through an inverted index (shingle →
  *    docs), so candidate generation is linear in Σ posting-list², not
  *    all-pairs; it is exact (any pair with J > 0 shares a shingle) but
  *    hot shingles can blow up the posting lists — at corpus scale you
  *    cap document frequency or switch to...
  *  - [[minhashPairs]]: banded MinHash — signatures are a pure MAP over
  *    per-doc shingle arrays (no signature shuffle at all), candidates
  *    come from equality joins on (band, band-hash) buckets, and only
  *    candidates pay the exact-verification join. 32 bands × 2
  *    rows: P[miss] = (1 − J²)³², ≈ 1e-4 at J = 0.5. False positives
  *    are eliminated by the exact verify, so precision is 1 by
  *    construction.
  *
  * Shingle sets are built with `array_distinct` INSIDE each doc row
  * (dedup is per-doc, so no global distinct shuffle exists anywhere),
  * and docs are spread across the shuffle parallelism first — see
  * [[spread]].
  */
object Dedup {

  /** Exact dedup: first doc_id survives per normalized-content hash. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    fp.withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("fp"),
        (col("rn") === 1).as("is_canonical"))
  }

  /** All pairs (a < b) with shingle-set Jaccard ≥ threshold, via the
    * inverted index. Exact and complete (any pair with J > 0 shares a
    * shingle). Fastest when shingle document-frequency is fairly flat —
    * as in the fixture corpus (small shared vocabulary), where it beats
    * [[jaccardPairsPrefix]] ~2× measured; on realistic Zipf-skewed
    * corpora the hot-shingle posting lists blow up quadratically and
    * the prefix-filtered variant is the one that survives.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val arrays = TextOps.shingleArrays(spread(docs), n)
    val sh = arrays.select(col("doc_id"), explode(col("arr")).as("s"))
    val sizes = arrays.select(col("doc_id"), size(col("arr")).as("n_sh"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** CONTAINMENT near-dup pairs — Broder (1997)'s directed overlap
    * c(A→B) = |A∩B| / |A| over distinct n-shingle sets: the measure
    * that catches a small document wholly embedded in a much larger
    * one, which resemblance (Jaccard) dilutes below any practical
    * threshold (a 50-shingle doc inside a 5000-shingle doc has
    * c = 1.0 but j ≈ 0.01). Completes the dedup matrix's granularity
    * axis beside whole-doc resemblance (q64), aligned-window
    * paragraphs (q98), and unaligned runs (q113).
    *
    * Emits pairs (da < db) where EITHER direction clears `threshold`,
    * with both directed scores and the exact integer evidence
    * (common, na, nb) — ratios of exact ints rounded to 4, so the
    * verdict is reproducible cross-engine.
    *
    * Scale shape: an inverted-index equi-join on the shingle string
    * with the same hot-shingle `maxDf` cap as [[winnowedPairs]] —
    * a boilerplate shingle shared by 10⁶ docs is dropped BEFORE the
    * pair join (it carries no pair signal worth a quadratic fan-in),
    * bounding per-key candidates to maxDf². The cap is part of the
    * CONTRACT (intersections count capped shingles only; the oracle
    * re-derives the same rule), exactly like winnowing's
    * stop-fingerprint rule. Prefix filtering does NOT apply to
    * containment (it prunes by resemblance bounds), hence the capped
    * inverted index rather than [[jaccardPairsPrefix]]'s plan.
    *
    * @return (da, db, common, na, nb, cont_ab, cont_ba)
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 64): DataFrame =
    containmentPairsCore(docs, None, n, threshold, maxDf, None)

  /** DELTA variant of [[containmentPairs]] — the directed-overlap
    * member of the delta matrix ([[jaccardPairsDelta]],
    * [[simhashPairsDelta]], [[winnowedPairsDelta]] are the
    * resemblance, Hamming, and substring members): only pairs
    * involving a doc marked new by `isNew`, old×old candidates
    * discarded inside the shingle-keyed join predicate. The df cap is
    * computed over the WHOLE world (old ∪ new), exactly as the full
    * form does — so the output is [[containmentPairs]] filtered to
    * involving-new and the registered query shares q146's oracle with
    * a one-line filter.
    */
  def containmentPairsDelta(docs: DataFrame, isNew: Column, n: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 64): DataFrame =
    containmentPairsCore(docs, Some(isNew), n, threshold, maxDf, None)

  /** [[containmentPairsDelta]] through the bloom JOIN-PRUNING gate
    * (the [[simhashPairsDeltaBloom]] / [[winnowedPairsDeltaBloom]]
    * pattern over shingles): standing-corpus shingle rows the batch
    * never mentions are shed before the capped-index pair shuffle;
    * `common` counts only shingles the pair's new doc holds, so the
    * output is IDENTICAL at any (m, d). The df cap stays world-global
    * (pre-gate).
    */
  def containmentPairsDeltaBloom(docs: DataFrame, isNew: Column,
      n: Int = 3, threshold: Double = 0.5, maxDf: Int = 64,
      m: Long = 1L << 20, d: Int = 2): DataFrame =
    containmentPairsCore(docs, Some(isNew), n, threshold, maxDf,
      Some((m, d)))

  private def containmentPairsCore(docs: DataFrame, isNew: Option[Column],
      n: Int, threshold: Double, maxDf: Int,
      bloomGate: Option[(Long, Int)]): DataFrame = {
    val arrays = TextOps.shingleArrays(spread(docs), n)
    val sh = arrays.select(col("doc_id"), explode(col("arr")).as("s"))
    val sizes = arrays.where(size(col("arr")) > 0)
      .select(col("doc_id"), size(col("arr")).as("n_sh"))
    val cappedBase = sh.join(
      sh.groupBy("s").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("s"), "s")
    // delta form: tag rows with the newness predicate BEFORE the
    // self-join and prune old×old inside the join condition (the
    // winnowedPairsCore pattern)
    val capped0 = isNew match {
      case Some(p) => cappedBase.withColumn("nw", p)
      case None => cappedBase
    }
    val capped = (isNew, bloomGate) match {
      case (Some(_), Some((m, d))) => bloomGateOld(capped0, col("s"), m, d)
      case _ => capped0
    }
    val baseCond = col("a.s") === col("b.s") &&
      col("a.doc_id") < col("b.doc_id")
    val cond = isNew match {
      case Some(_) => baseCond && (col("a.nw") || col("b.nw"))
      case None => baseCond
    }
    val common = capped.as("a").join(capped.as("b"), cond)
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .withColumn("cont_ab",
        round(col("common").cast("double") / col("na"), 4))
      .withColumn("cont_ba",
        round(col("common").cast("double") / col("nb"), 4))
      .where(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select(col("da"), col("db"), col("common").cast("int").as("common"),
        col("na"), col("nb"), col("cont_ab"), col("cont_ba"))
  }

  /** Rounding slop: the output Jaccard is `round(j, 4)`, so a pair with
    * true j ≥ t − 5e-5 can still round up to the threshold — every
    * intermediate pruning bound must use the slopped threshold to stay
    * complete.
    */
  private def slop(threshold: Double): Double = threshold - 0.00005

  private def spread(docs: DataFrame): DataFrame = TextOps.spread(docs)

  /** Native sorted-`xxhash64`-digest array (seed-42-compatible with the
    * builtin; see [[graft.functions.SortedHashes]]).
    */
  private def sortedHashes(arr: Column): Column =
    GraftSqlShims.column(
      graft.functions.SortedHashes(GraftSqlShims.expression(arr)))

  /** Native merge-walk |a ∩ b| over two sorted-distinct hash arrays. */
  private def sortedIntersectCount(a: Column, b: Column): Column =
    GraftSqlShims.column(graft.functions.SortedIntersectCount(
      GraftSqlShims.expression(a), GraftSqlShims.expression(b)))

  /** Exact-Jaccard verification of a candidate pair set, two-phase:
    *
    * Phase 1 joins each side to its per-doc sorted 64-bit shingle-HASH
    * array (8-byte elements, not ~20-byte shingle strings — the arrays
    * ride the pair join at a fraction of the bytes) and prunes on
    * hash-set Jaccard. A hash collision can only MERGE two distinct
    * shingles, so hash-Jaccard ≥ string-Jaccard and no qualifying pair
    * is ever pruned. Phase 2 re-checks only the survivors (output-sized,
    * not candidate-sized) against the full string arrays, so the result
    * is exact regardless of collisions.
    *
    * Compared to re-joining posting lists per pair, the intersections
    * run inside codegen (`array_intersect`) and no |pairs|×|shingles|
    * row blowup ever materializes.
    */
  private def verifyExact(candidates: DataFrame, arrays: DataFrame,
      threshold: Double): DataFrame = {
    // both sides are PURE MAPS over the one-row-per-doc shingle arrays —
    // no groupBy, no shuffle to build them
    val hashed = arrays.select(col("doc_id"),
      sortedHashes(col("arr")).as("ha"),
      size(col("arr")).as("n_sh"))
    val survivors = candidates
      .join(hashed.select(col("doc_id").as("da"), col("ha").as("haa"),
        col("n_sh").as("na")), "da")
      .join(hashed.select(col("doc_id").as("db"), col("ha").as("hab"),
        col("n_sh").as("nb")), "db")
      .withColumn("hc", sortedIntersectCount(col("haa"), col("hab")))
      .where(col("hc").cast("double") /
        (col("na") + col("nb") - col("hc")) >= slop(threshold))
      .select(col("da"), col("db"))
    val strings = arrays.select(col("doc_id"), col("arr"),
      size(col("arr")).as("n_sh"))
    survivors
      .join(strings.select(col("doc_id").as("da"), col("arr").as("aa"),
        col("n_sh").as("na")), "da")
      .join(strings.select(col("doc_id").as("db"), col("arr").as("ab"),
        col("n_sh").as("nb")), "db")
      .withColumn("common", size(array_intersect(col("aa"), col("ab"))))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Same contract as [[jaccardPairs]], via PREFIX FILTERING (Bayardo
    * et al., "Scaling Up All Pairs Similarity Search"): order each
    * document's shingles by a global (document-frequency asc, shingle)
    * order; any pair with J ≥ t must share a shingle among each side's
    * first ⌈|x|/(1+t)⌉ + 1 shingles (the symmetric-join-safe bound:
    * with required overlap o ≥ t(|x|+|y|)/(1+t), the two prefixes sum
    * past |x|+|y|−o, forcing a shared prefix element), so only PREFIX
    * rows enter the inverted-index join and hot shingles (which sort
    * last) stay out of it; full shingle sets are joined only for the
    * surviving candidates. Completeness is the prefix-filter principle,
    * precision comes from the exact verification; LlmSpec checks
    * equality with a naive all-pairs computation on synthetic docs.
    */
  def jaccardPairsPrefix(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    // candidate generation AND both sides of the exact verification
    // read the shingle frame — materialize the tokenize+shingle pass
    // once (the persisted-fingerprint-store shape of dupClustersDelta)
    val arrays = TextOps.shingleArrays(spread(docs), n)
      .transform(Checkpoints(_))
    verifyExact(prefixCandidates(arrays, threshold, deltaOnly = false),
      arrays, threshold)
  }

  /** DELTA dedup — [[jaccardPairsPrefix]]'s exact contract restricted
    * to pairs INVOLVING a new document (`isNew` marks the incoming
    * batch; evaluated against the doc row before shingling). The
    * corpus×corpus half of the pair space — already deduplicated by
    * the previous run — is discarded inside the candidate join
    * predicate, before any pair row shuffles or verifies. This is the
    * daily-ingest shape at warehouse scale: per run, cost tracks the
    * new batch's candidate fan-out, not the corpus pair space, while
    * the shingle document-frequency order (and therefore the prefix
    * choice) still reflects the FULL corpus.
    */
  def jaccardPairsDelta(docs: DataFrame, isNew: Column, n: Int = 3,
      threshold: Double = 0.3): DataFrame =
    jaccardDeltaCore(docs, isNew, n, threshold, None)

  /** [[jaccardPairsDelta]] through the bloom JOIN-PRUNING gate over
    * the prefix-filter hashes: standing-corpus prefix rows whose
    * shingle hash the batch's prefixes never mention are shed before
    * the candidate shuffle. Completeness is preserved — the prefix
    * filter guarantees a qualifying pair shares at least one prefix
    * element, and for an involving-new pair that element is held by
    * the new side, so its hash is in the bloom; spurious survivors
    * are rejected by the exact full-set verification as always.
    * Output IDENTICAL at any (m, d).
    */
  def jaccardPairsDeltaBloom(docs: DataFrame, isNew: Column, n: Int = 3,
      threshold: Double = 0.3, m: Long = 1L << 20,
      d: Int = 2): DataFrame =
    jaccardDeltaCore(docs, isNew, n, threshold, Some((m, d)))

  private def jaccardDeltaCore(docs: DataFrame, isNew: Column, n: Int,
      threshold: Double, bloomGate: Option[(Long, Int)]): DataFrame = {
    // same fan-out as jaccardPairsPrefix: one materialized shingle pass
    val arrays = spread(docs).select(col("doc_id"), isNew.as("nw"),
      TextOps.shingleSet(TextOps.tokens(col("text")), n).as("arr"))
      .transform(Checkpoints(_))
    verifyExact(
      prefixCandidates(arrays, threshold, deltaOnly = true, bloomGate),
      arrays.select(col("doc_id"), col("arr")), threshold)
  }

  /** Prefix-filtered candidate pair generation over per-doc shingle
    * arrays `(doc_id, arr[, nw])`; `deltaOnly` keeps only pairs where
    * at least one side is new (`nw`); `bloomGate` (delta only) sheds
    * old prefix rows by a bloom of the new side's prefix hashes.
    */
  private def prefixCandidates(arrays: DataFrame, threshold: Double,
      deltaOnly: Boolean,
      bloomGate: Option[(Long, Int)] = None): DataFrame = {
    val extra = if (deltaOnly) Seq(col("nw")) else Nil
    // n_sh rides the exploded rows (known at explode time) — no
    // per-doc sizes join is ever paid
    val sh = arrays.select(Seq(col("doc_id"),
      size(col("arr")).as("n_sh")) ++ extra :+ explode(col("arr")).as("s"): _*)
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    // candidate generation joins on the 64-bit shingle hash, not the
    // string: ~3× narrower shuffle rows, and still COMPLETE — a hash
    // collision can only ADD a spurious candidate, which the exact
    // verification on full shingle sets then rejects.
    val ordered = sh.join(dfreq, "s")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
    val prefix = ordered.select(Seq(col("doc_id"), col("n_sh"),
        xxhash64(col("s")).as("hs"), col("pos")) ++ extra: _*)
      .where(col("pos") <= ceil(col("n_sh") * (1.0 / (1 + threshold))) + 1)
    // J ≥ t needs overlap o ≥ t(|a|+|b|)/(1+t); slopped for the
    // round-to-4 output edge (see slop()).
    val t = slop(threshold)
    val oMin = (col("a.n_sh") + col("b.n_sh")) * (t / (1 + t))
    val base = (col("a.hs") === col("b.hs")
      && col("a.doc_id") < col("b.doc_id")
      // length filter: |smaller| ≥ t·|larger| or J < t is impossible
      && col("a.n_sh") >= col("b.n_sh") * threshold
      && col("b.n_sh") >= col("a.n_sh") * threshold
      // PPJoin position filter: everything shared sorts at-or-after
      // the FIRST shared prefix element, so overlap is capped by the
      // shorter remaining suffix; the first-match row carries the
      // loosest cap, so filtering per matched row keeps every
      // qualifying pair.
      && least(col("a.n_sh") - col("a.pos"),
           col("b.n_sh") - col("b.pos")) + 1 >= oMin)
    val cond = if (deltaOnly) base && (col("a.nw") || col("b.nw")) else base
    val gated = (deltaOnly, bloomGate) match {
      case (true, Some((m, d))) => bloomGateOld(prefix, col("hs"), m, d)
      case _ => prefix
    }
    gated.as("a").join(gated.as("b"), cond)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  val numHashes = 64
  val numBands = 32 // 2 rows per band

  /** Banded MinHash LSH near-dup pairs, exact-verified at `threshold`.
    * Output ⊆ [[jaccardPairs]] output; equality holds when every
    * qualifying pair collides in ≥ 1 band (P ≈ 1 − 1e-4 per pair at
    * J = 0.5).
    *
    * Signatures come from the SQL-re-derivable
    * [[graft.functions.MinHashSigMd5]] family (one md5 per shingle + k
    * affine rounds mod 2^61−1), and bands join on the RAW two-row key
    * (band, h₂ᵦ, h₂ᵦ₊₁) rather than a bucket hash of it — so the q65
    * oracle re-derives the exact same signatures, band keys, and
    * candidate set in DuckDB and the correctness gate is independent of
    * LSH recall on any particular fixture (a bucket hash would have
    * admitted un-derivable collision candidates). Still a PURE MAP per
    * doc: the only shuffles in the whole operator are the band-key
    * candidate join and the verification joins.
    */
  def minhashPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val arrays = TextOps.shingleArrays(spread(docs), n)
    val sig = GraftSqlShims.column(graft.functions.MinHashSigMd5(
      GraftSqlShims.expression(col("arr")), numHashes))
    // 32 bands of 2 min-hash rows each, keyed by the raw row pair.
    // Empty shingle sets (doc shorter than n tokens) had no rows in the
    // posting formulation and must not band here either — their NULL
    // min-hashes would otherwise bucket all short docs together.
    val bands = arrays.where(size(col("arr")) > 0)
      .withColumn("sig", sig)
      .select(col("doc_id"), explode(array(
        (0 until numBands).map(b => struct(lit(b).as("band"),
          col("sig").getItem(2 * b).as("h0"),
          col("sig").getItem(2 * b + 1).as("h1"))): _*))
        .as("e"))
      .select(col("doc_id"), col("e.band"), col("e.h0"), col("e.h1"))
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h0") === col("y.h0") &&
          col("x.h1") === col("y.h1") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    // Exact verification only on the candidate set.
    verifyExact(candidates, arrays, threshold)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): hash every k-token gram, then in each sliding
    * window of `w` consecutive gram hashes select the minimum
    * (rightmost position on ties, via a lexicographic (hash, −pos)
    * struct min). GUARANTEE: any substring of ≥ w + k − 1 shared
    * tokens between two documents shares at least one selected
    * fingerprint, at ANY alignment — the substring-overlap detector
    * that set-level Jaccard (whole-doc similarity) and
    * [[paragraphDedup]] (aligned fixed windows) don't provide.
    * Expected density ≈ 2/(w+1) fingerprints per gram, so the per-doc
    * fingerprint set is a bounded sketch of the token stream.
    *
    * PURE MAP per doc (guide §2.1 — shuffles removed outright): the
    * grams, the sliding struct-min and the per-doc dedup all derive
    * from the document's own token array, so the whole selection runs
    * per ROW — hs(i) = (hash of gram i, −i), sel(i) = array_min over
    * the w-slice at i, array_distinct collapses the w-fold duplication
    * of adjacent windows selecting the same gram. The former
    * formulation exploded every gram through a per-doc Window sort and
    * a global DISTINCT — three Exchanges of |grams| rows for a
    * selection that never needed to leave its row. `array_min` uses
    * the same struct ordering as the window's `min(struct)`, and the
    * per-doc `array_distinct` equals the global distinct because
    * doc_id rode every row. Gram hashes are md5-derived, so the oracle
    * re-derives the exact selection in SQL. Docs shorter than
    * k + w − 1 tokens emit nothing (no full window).
    *
    * NOTE for consumers: the output no longer ends in an Exchange —
    * a multi-consumer caller must checkpoint it (winnowedPairsCore
    * does) or every consumer re-runs the md5-per-gram map.
    *
    * @return (doc_id, pos, fp) — selected gram position + 32-bit hash
    */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("wd"))
      .where(size(col("wd")) >= k + w - 1)
    toks
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("wd")) - (k - 1)), i =>
          struct(conv(substring(md5(concat_ws(" ",
              slice(col("wd"), i, lit(k)))), 1, 8), 16, 10).cast("long")
            .as("h"), (-i).as("ni"))).as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), size(col("hs")) - (w - 1)),
            i => array_min(slice(col("hs"), i, lit(w)))))).as("sel"))
      .select(col("doc_id"), (-col("sel.ni")).cast("int").as("pos"),
        col("sel.h").as("fp"))
  }

  /** Substring-overlap candidate pairs from shared winnowed
    * fingerprints: (da, db, n_shared) for every doc pair sharing ≥ 1
    * selected fingerprint. By the winnowing guarantee this catches
    * every pair sharing a (w + k − 1)-token substring at any
    * alignment; `n_shared` grows with overlap length, so callers
    * threshold it as an overlap-strength score. One fp-keyed
    * equi-join over the bounded fingerprint sketches — never the
    * token streams.
    *
    * `maxDf` is the STOP-FINGERPRINT cap (the hot-shingle cap of
    * [[jaccardPairsPrefix]], and MOSS's "ignore extremely common
    * fingerprints" rule): a fingerprint selected in more than `maxDf`
    * documents — boilerplate, headers, viral snippets — is dropped
    * before the join, bounding the per-key fan-in to maxDf² instead
    * of letting one viral 4-gram quadratically explode the candidate
    * pair space at corpus scale. The df side is a bounded-key
    * aggregate with map-side partials.
    */
  def winnowedPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      maxDf: Int = 64): DataFrame =
    winnowedPairsCore(docs, None, k, w, maxDf, None)

  /** DELTA variant of [[winnowedPairs]] — the substring-overlap member
    * of the delta matrix ([[jaccardPairsDelta]], [[simhashPairsDelta]]
    * are the set-similarity and Hamming members): only pairs involving
    * a doc marked new by `isNew`, old×old candidates discarded inside
    * the fp-keyed join predicate. The stop-fingerprint df cap is
    * computed over the WHOLE world (old ∪ new), exactly as the full
    * form does — so the output is [[winnowedPairs]] filtered to
    * involving-new, and the registered query shares q113's selection
    * oracle with a one-line filter.
    */
  def winnowedPairsDelta(docs: DataFrame, isNew: Column, k: Int = 4,
      w: Int = 5, maxDf: Int = 64): DataFrame =
    winnowedPairsCore(docs, Some(isNew), k, w, maxDf, None)

  /** [[winnowedPairsDelta]] through the [[simhashPairsDeltaBloom]]
    * JOIN-PRUNING gate: standing-corpus fingerprint rows are dropped
    * BEFORE the pair shuffle by a bloom built over the batch's
    * selected fingerprints. Output is IDENTICAL at any (m, d) — a
    * pair involving a new doc only ever counts fingerprints the new
    * doc itself holds, so no old row it needs can be bloom-absent,
    * and false positives still fail the exact fp equality. The df cap
    * stays world-global (computed pre-gate), exactly as the ungated
    * delta form. The gate is ≤ m/64 rows however large the batch.
    */
  def winnowedPairsDeltaBloom(docs: DataFrame, isNew: Column, k: Int = 4,
      w: Int = 5, maxDf: Int = 64, m: Long = 1L << 20,
      d: Int = 2): DataFrame =
    winnowedPairsCore(docs, Some(isNew), k, w, maxDf, Some((m, d)))

  /** The dedup ACTION on [[duplicateSpans]]' table (Lee et al. 2022's
    * actual intervention): every token position of the HIGHER doc of
    * a pair covered by any shared span is CUT, the survivor doc keeps
    * its copy, and each document is re-assembled in token order —
    * span-level removal instead of whole-document dropping, which is
    * the whole point of localizing the spans.
    *
    * Scale shape: the span table is sparse (pairs × spans); covered
    * positions explode to ≤ Σ span_len rows; the cut is one
    * (doc, pos)-keyed left-anti join and the re-assembly one
    * doc-keyed aggregate — the [[boilerplateStrip]] rebuild pattern.
    *
    * @return (doc_id, n_tokens, n_cut, clean_text) for every doc
    */
  def cutDuplicateSpans(docs: DataFrame, n: Int = 8,
      maxDf: Int = 64): DataFrame =
    rebuildAfterCut(docs, duplicateSpans(docs, n, maxDf))

  /** HARDENED span-cut with Lee et al. 2022's actual
    * deduplicate-text-datasets semantics — two upgrades over
    * [[cutDuplicateSpans]]:
    *
    *  1. CONFIGURABLE MIN-MATCH LENGTH: detection still runs on
    *     n-token anchors, but only maximal spans of ≥ `minMatch`
    *     tokens are cut (the paper detects with a suffix array and
    *     cuts at 50 tokens; decoupling the anchor granularity from the
    *     cut threshold is what makes that tunable).
    *  2. ALL-BUT-FIRST-OCCURRENCE cut priority: the span table
    *     includes WITHIN-DOCUMENT repeats ([[duplicateSpansSelf]]),
    *     and the cut side of every pair is the LATER occurrence in
    *     (doc_id, position) order — so of ALL occurrences of a
    *     duplicated span across the corpus, exactly the first survives
    *     (each later occurrence is the `b` side of its pair with the
    *     first), including the second copy inside a single document,
    *     which the cross-doc-only form leaves standing.
    *
    * @return (doc_id, n_tokens, n_cut, clean_text) for every doc
    */
  def cutSpansAllButFirst(docs: DataFrame, n: Int = 8,
      minMatch: Int = 12, maxDf: Int = 64): DataFrame = {
    require(minMatch >= n, s"minMatch $minMatch below anchor length $n")
    rebuildAfterCut(docs, duplicateSpansSelf(docs, n, maxDf)
      .where(col("span_len") >= minMatch))
  }

  /** ExactSubstr deduplication at the production 50-token grain (Lee
    * et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better", deduplicate-text-datasets): every position whose
    * k-token gram occurs MORE THAN ONCE in the corpus — across docs
    * or within one — is marked, and overlapping/adjacent marked
    * windows merge into maximal spans. The contract is
    * OCCURRENCE-COUNT based, so unlike the pair-diagonal family
    * ([[duplicateSpans]]) there is NO pair join, NO df cap, and no
    * approximation: any ≥ k-token span shared verbatim anywhere is
    * localized in every copy, exactly the paper's ExactSubstr rule
    * (the suffix array it builds single-node is replaced by one
    * corpus-wide gram shuffle).
    *
    * Pipeline: token k-grams per position (a pure map; md5 anchors,
    * collision odds ≈ m²/2¹²⁸) → one window count partitioned by gram
    * hash (the ONLY shuffle) → per-doc gaps-and-islands (positions
    * i, j merge when j − i ≤ k, i.e. the windows overlap or touch) →
    * (min, max + k − 1) spans.
    *
    * Skew bound, stated honestly (r15 advice): the window routes
    * EVERY occurrence of one gram to a single task, and the hot grams
    * are exactly the duplicated boilerplate this query targets — the
    * per-partition bound is the max per-gram occurrence count, not
    * uniform. [[exactSubstrSpansRolling]] is the 100 TB form: it
    * replaces the window with a map-side-combined groupBy count +
    * hash-probe semi-join (hot grams collapse to one count row before
    * shuffling, and the probe streams instead of buffering a window
    * partition), on top of the O(tokens) rolling kernel.
    *
    * Determinism: offsets are exact integers; island breaks are
    * integer compares — the full hash gate applies.
    *
    * @return (doc_id, span_start, span_end, n_tokens) — 1-based
    *         inclusive token offsets of each maximal duplicated span
    */
  def exactSubstrSpans(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 2, "ExactSubstr grain must be >= 2 tokens")
    val grams = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("wd"))
      .where(size(col("wd")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("wd")) - (k - 1))).as("i"),
        col("wd"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("wd"), col("i"), lit(k)))).as("h"))
    // corpus-wide occurrence count in ONE shuffle (window over the
    // gram hash — no groupBy + join back; see the skew note above)
    val marked = grams
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("occ") > 1)
      .select(col("doc_id"), col("i"))
    spansFromMarked(marked, k)
  }

  /** The ExactSubstr 100 TB form (r15 verdict #3): [[exactSubstrSpans]]'
    * contract on the [[graft.functions.RollingGramFp]] rolling kernel —
    * per-position k-gram hashes in ONE O(tokens) pass per doc (the md5
    * form hashes O(tokens × k) bytes materializing every 50-token
    * slice), and duplicated grams marked by a map-side-combined
    * `groupBy(h).count` + hash-probe LEFT SEMI join instead of a
    * window over the gram hash. Both changes are the scale story:
    *
    *  - the count branch collapses a gram repeated millions of times
    *    (boilerplate — exactly what this query hunts) to ONE row at
    *    the map side, where the window form routes every occurrence
    *    to a single task and buffers them;
    *  - the semi-join probe streams the gram frame through a hash
    *    lookup (shuffle_hash hint — sorting the corpus-wide gram
    *    frame is the thing to avoid), so the hot partition does
    *    linear work with O(duplicated grams) memory.
    *
    * Output is REQUIRED IDENTICAL to [[exactSubstrSpans]] (the
    * q383/q384 identical-answer contract; spans differ only if two
    * DIFFERENT grams collide in 2⁶¹ — odds m²/2⁶², and the spec
    * asserts equality on the fixtures), so the registered query
    * shares the md5 form's oracle verbatim.
    */
  def exactSubstrSpansRolling(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 2, "ExactSubstr grain must be >= 2 tokens")
    val grams = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("wd"))
      .where(size(col("wd")) >= k)
      .select(col("doc_id"),
        posexplode(GraftSqlShims.column(graft.functions.RollingGramFp(
          GraftSqlShims.expression(col("wd")), k)))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("i"), col("h"))
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .where(col("occ") > 1)
      .select(col("h"))
    val marked = grams.join(dup.hint("shuffle_hash"), Seq("h"), "left_semi")
      .select(col("doc_id"), col("i"))
    spansFromMarked(marked, k)
  }

  /** Shared ExactSubstr tail: duplicated positions → per-doc
    * gaps-and-islands (gap > k breaks) → maximal (min, max + k − 1)
    * spans. */
  private def spansFromMarked(marked: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    marked
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).cast("int").as("span_start"),
        (max(col("i")) + (k - 1)).cast("int").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** The ExactSubstr CUT: every token position covered by a
    * [[exactSubstrSpans]] span is removed — ALL occurrences of a
    * duplicated ≥ k-token span, the released tool's default (the
    * all-but-first variant at the 50 grain is [[cutSpansAllButFirst]]
    * with minMatch = 50) — and each doc is re-assembled in token
    * order.
    *
    * @return (doc_id, n_tokens, n_cut, clean_text) for every doc
    */
  def exactSubstrCut(docs: DataFrame, k: Int = 50): DataFrame =
    rebuildAfterCut(docs, exactSubstrSpans(docs, k)
      .select(col("doc_id").as("doc_b"),
        col("span_start").as("start_b"),
        (col("span_end") - col("span_start") + 1).as("span_len")))

  /** Shared cut + re-assembly: every token position of the `b` side
    * covered by a span is removed and each doc rebuilt in token order
    * (the [[boilerplateStrip]] rebuild pattern). */
  private def rebuildAfterCut(docs: DataFrame,
      spans: DataFrame): DataFrame = {
    val covered = spans.select(col("doc_b").as("doc_id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_len") - 1)).as("pos"))
      .distinct()
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("p0", "tk")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tk"))
      .transform(Checkpoints(_)) // feeds totals AND the anti-join
    val total = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(sort_array(collect_list(struct(col("pos"),
          col("tk")))).getField("tk"), " ").as("clean_text"))
    total.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("int").as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** BYTE-granular content-defined chunk dedup over binary payloads
    * (FastCDC/LBFS normalized cutting — the multimodal counterpart of
    * the token-level [[cdcChunks]]): payloads split at windowed-hash
    * boundaries clamped to [minLen, maxLen] bytes (the
    * [[graft.functions.FastCdc]] native expression — one codegen'd
    * per-row pass, payload bytes never leave their partition), each
    * chunk digested, and every digest annotated with its corpus
    * document-frequency — the sub-file dedup signal: two revisions of
    * a payload share every chunk outside the edited span, however the
    * byte offsets shifted.
    *
    * Scale shape: cut + digest are a pure map; the only shuffle is the
    * 16-byte-digest df groupBy (map-side combined) and its equi-join
    * back. At 100 TB the digest frame IS the chunk store — day-2
    * batches join against it exactly like [[cdcNovelty]].
    *
    * @return (doc_id, chunk_idx, start, n_bytes, dig, df) — 1-based
    *         byte offsets
    */
  def fastCdcDedup(docs: DataFrame, k: Int = 16, maskBits: Int = 6,
      minLen: Int = 24, maxLen: Int = 128): DataFrame = {
    val ch = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("ends", graft.functions.FastCdc.cuts(col("payload"),
        k, maskBits, minLen, maxLen))
      .select(col("doc_id"), col("payload"), col("ends"),
        posexplode(col("ends")).as(Seq("ci", "endp")))
      .withColumn("start", when(col("ci") === 0, lit(1))
        .otherwise(element_at(col("ends"), col("ci")) + 1))
      .select(col("doc_id"), col("ci").as("chunk_idx"), col("start"),
        (col("endp") - col("start") + 1).as("n_bytes"),
        md5(expr("substring(payload, start, endp - start + 1)")).as("dig"))
      .transform(Checkpoints(_)) // feeds the rows AND the df aggregate
    val dfreq = ch.groupBy(col("dig"))
      .agg(countDistinct(col("doc_id")).as("df"))
    ch.join(dfreq, "dig")
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        col("n_bytes"), col("dig"), col("df"))
  }

  /** EXACT duplicate-span extraction (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" class):
    * LOCALIZE every maximal repeated token span of ≥ `n` tokens across
    * document pairs — not just flag the pair, but report where
    * (token offsets) and how long. The winnowing/containment families
    * approximate substring overlap at document granularity; this is
    * the span-level operator that lets a pipeline CUT the duplicated
    * text instead of dropping whole documents.
    *
    * Distributed formulation (never a suffix array on the driver):
    * two docs share an L ≥ n token span exactly when they share
    * L − n + 1 CONSECUTIVE n-gram anchors at a constant positional
    * offset. So: (1) every n-gram occurrence becomes (doc, pos,
    * 48-bit md5 anchor); (2) anchors join on the hash (an equi-join
    * over the bounded inverted index — the df cap below keeps every
    * posting list ≤ maxDf docs, the winnowing family's
    * stop-fingerprint discipline); (3) matched positions group by
    * (doc_a, doc_b, diagonal = pos_a − pos_b) and collapse to maximal
    * runs by gaps-and-islands (pos − row_number inside the diagonal),
    * each run of r consecutive anchors reporting one maximal span of
    * r + n − 1 tokens.
    *
    * Determinism: offsets/lengths are exact integers off the md5
    * anchor join — no floats anywhere, so the full hash gate applies.
    * A 48-bit anchor collision would take ~10^7 distinct grams to
    * reach 1e-3 probability; the oracle derives the same 48 bits, so
    * the gate is consistent regardless.
    *
    * Scale shape: anchor generation is a pure map (explode over token
    * positions); the df cap is a bounded-key aggregate with map-side
    * partials; the pair join fans in ≤ maxDf² per anchor; the island
    * window partitions by (pair, diagonal) — thousands of small
    * groups, no global sort. A viral anchor (> maxDf docs) is dropped
    * BEFORE the join, which can split a span crossing it into two
    * reported spans — the documented price of the cap, same trade the
    * MOSS winnower makes.
    *
    * @param n    anchor/minimum span length in tokens
    * @param maxDf stop-anchor document-frequency cap
    * @return (doc_a, doc_b, start_a, start_b, span_len) — 1-based
    *         token offsets of each maximal shared span, doc_a < doc_b
    */
  def duplicateSpans(docs: DataFrame, n: Int = 8,
      maxDf: Int = 64): DataFrame =
    duplicateSpansCore(docs, n, maxDf, includeSelf = false)

  /** [[duplicateSpans]] EXTENDED with within-document repeats: the
    * occurrence-pair predicate admits (doc, i) < (doc, j) self pairs
    * beside cross-doc ones, so a span repeated INSIDE one document
    * (template boilerplate, chorus text) is localized exactly like a
    * cross-doc one. Everything else — anchors, df cap, diagonal
    * islands — is [[duplicateSpans]] verbatim; a self pair's diagonal
    * ia − ib ≠ 0 and each ia still occurs once per diagonal, so the
    * gaps-and-islands collapse is unchanged. doc_a = doc_b marks the
    * self rows. */
  def duplicateSpansSelf(docs: DataFrame, n: Int = 8,
      maxDf: Int = 64): DataFrame =
    duplicateSpansCore(docs, n, maxDf, includeSelf = true)

  private def duplicateSpansCore(docs: DataFrame, n: Int,
      maxDf: Int, includeSelf: Boolean): DataFrame = {
    require(n >= 2, "span anchor length must be >= 2 tokens")
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("wd"))
      .where(size(col("wd")) >= n)
    // two consumers (the df-cap aggregate AND the occurrence join) —
    // without the checkpoint each re-ran the tokenize + per-position
    // n-token slice/concat/md5 pass, the pipeline's hottest map work
    // (the repo's two-consumer-fan-out discipline; the narrow
    // (doc_id, i, h) triple is what materializes, never the text)
    val grams = toks
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("wd")) - (n - 1))).as("i"),
        col("wd"))
      .select(col("doc_id"), col("i"),
        conv(substring(
          md5(concat_ws(" ", slice(col("wd"), col("i"), lit(n)))),
          1, 12), 16, 10).cast("long").as("h"))
      .transform(Checkpoints(_))
    // stop-anchor cap: viral boilerplate n-grams leave before the join
    val keep = grams.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .where(col("df") <= maxDf).select(col("h"))
    val occ = Checkpoints(grams.join(keep, Seq("h")))
    val a = occ.select(col("h"), col("doc_id").as("da"), col("i").as("ia"))
    val b = occ.select(col("h"), col("doc_id").as("db"), col("i").as("ib"))
    val pairPred =
      if (includeSelf) col("da") < col("db") ||
        (col("da") === col("db") && col("ia") < col("ib"))
      else col("da") < col("db")
    val m = a.join(b, Seq("h")).where(pairPred)
    // gaps-and-islands per (pair, diagonal): each ia occurs at most
    // once per diagonal (ib = ia − diag is determined), so
    // ia − row_number() is constant exactly along consecutive runs
    val diag = col("ia") - col("ib")
    m.select(col("da"), col("db"), col("ia"), col("ib"), diag.as("diag"))
      .withColumn("grp", col("ia") - row_number().over(
        Window.partitionBy(col("da"), col("db"), col("diag"))
          .orderBy(col("ia"))))
      .groupBy(col("da"), col("db"), col("diag"), col("grp"))
      .agg(min(col("ia")).as("sa"), min(col("ib")).as("sb"),
        count(lit(1)).as("run"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("sa").cast("int").as("start_a"),
        col("sb").cast("int").as("start_b"),
        (col("run") + (n - 1)).cast("int").as("span_len"))
  }

  /** Bloom JOIN PRUNING of a tagged delta frame: rows with `nw` =
    * false are gated by a bloom built over the new rows' `key` — no
    * false negatives, so downstream EXACT equi-joins on `key` produce
    * identical output; the gate only sheds old rows whose key the
    * batch never mentions (the overwhelming majority at day-vs-corpus
    * scale) before they pay the pair shuffle.
    */
  private def bloomGateOld(tagged: DataFrame, key: Column,
      m: Long, d: Int): DataFrame = {
    // three consumers (bloom build, probe side, union-back) — without
    // the checkpoint each would recompute the upstream selection/cap/
    // prefix work (the repo's two-consumer-fan-out discipline)
    val t = Checkpoints(tagged)
    // a NULL newness predicate means OLD here: the ungated join's
    // (a.nw || b.nw) only ever keeps a NULL-nw row when its partner is
    // new, exactly the pairs the bloom preserves — routing NULL to the
    // gated side (instead of silently dropping it from BOTH sides)
    // keeps the identical-output contract for nullable predicates
    val isNewRow = coalesce(col("nw"), lit(false))
    // fast-hash family (guide §4): this gate is transparent — false
    // positives still fail the downstream exact equi-join — so the
    // md5 digest per probe was pure overhead
    val bloom = graft.functions.BloomFrame.buildFast(
      t.where(isNewRow), Seq(key), m, d)
    graft.functions.BloomFrame.mayContainFast(
        t.where(!isNewRow), Seq(key), bloom, m, d)
      .where(col("bf_maybe")).drop("bf_maybe")
      .unionByName(t.where(isNewRow))
  }

  private def winnowedPairsCore(docs: DataFrame, deltaPred: Option[Column],
      k: Int, w: Int, maxDf: Int,
      bloomGate: Option[(Long, Int)]): DataFrame = {
    // winnow is now a pure map with NO terminal Exchange (see its
    // doc), so the df cap, the keep join and both self-join sides
    // would each re-run the md5-per-gram selection — materialize the
    // narrow (doc_id, pos, fp) sketch once. (The r16 no-checkpoint
    // note applied to the old distinct()-terminated form, whose
    // Exchange the consumers shared via reuse.)
    val base = Checkpoints(winnow(docs, k, w))
    val s = deltaPred match {
      case Some(p) => base.withColumn("nw", p)
      case None => base
    }
    val keep = s.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val sk0 = s.join(keep, "fp")
    val sk = (deltaPred, bloomGate) match {
      case (Some(_), Some((m, d))) => bloomGateOld(sk0, col("fp"), m, d)
      case _ => sk0
    }
    val baseCond = col("a.fp") === col("b.fp") &&
      col("a.doc_id") < col("b.doc_id")
    val cond = deltaPred match {
      case Some(_) => baseCond && (col("a.nw") || col("b.nw"))
      case None => baseCond
    }
    sk.as("a").join(sk.as("b"), cond)
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(countDistinct(col("a.fp")).as("n_shared"))
  }

  /** Legacy fingerprint width — the reference-era 32-bit surface the
    * q66/q93 oracles pin. */
  val simhashBits = 32

  /** Corpus-scale fingerprint width: at ≥ 10⁸ docs a 32-bit space
    * saturates with spurious exact collisions and its 8-bit bands
    * (256 buckets) degenerate the candidate join; 64-bit fingerprints
    * with 16-bit bands (65 536 buckets/band) keep both selective. */
  val simhashBits64 = 64

  /** SimHash NEAR-DUP PAIRS: all (da < db) with fingerprint Hamming
    * distance ≤ `maxHamming`. EXACT by pigeonhole: the `bits`-wide
    * fingerprint splits into 4 equal bands, and any pair within Hamming
    * 3 (< 4 differing bits) must agree on at least one whole band — so
    * the band-equality join loses nothing, and only bucket-mates pay
    * the full fingerprint compare. The same banded-candidate shape as
    * MinHash, but with a deterministic completeness guarantee instead
    * of a probability curve.
    *
    * `bits` picks the fingerprint width: 32 (legacy, 8-bit bands) or
    * 64 (corpus-scale default path — 16-bit bands keep the band join
    * selective at ≥ 10⁸ docs, where 256-bucket bands degenerate toward
    * all-pairs and the 32-bit fingerprint space itself saturates).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bits: Int = simhashBits): DataFrame =
    simhashPairsCore(docs, maxHamming, deltaPred = None, bits)

  /** DELTA variant of [[simhashPairs]]: only pairs involving a doc
    * marked new by `isNew` (evaluated on the fingerprint frame, so any
    * doc_id-derivable predicate works). Old×old candidates are
    * discarded inside the band join predicate — the periodic
    * compaction shape that pairs a day's streamed-in fingerprints
    * ([[graft.stream.CorpusIngest]] emits them online) against the
    * standing corpus without re-pairing the corpus with itself.
    */
  def simhashPairsDelta(docs: DataFrame, isNew: Column,
      maxHamming: Int = 3, bits: Int = simhashBits): DataFrame =
    simhashPairsCore(docs, maxHamming, deltaPred = Some(isNew), bits)

  private def simhashPairsCore(docs: DataFrame, maxHamming: Int,
      deltaPred: Option[Column], bits: Int = simhashBits): DataFrame =
    pairsFromFp(fpFrame(docs, bits), maxHamming, deltaPred, bits)

  /** The banded Hamming pair join over ANY fingerprint frame — the
    * machinery behind [[simhashPairs]] opened to other 64-bit
    * perceptual fingerprints (image aHash,
    * [[graft.llm.Multimodal.aHashPayloads]]). `fp` must carry
    * (doc_id, simhash bit string, fpl packed long); output is
    * (da, db, hamming) with hamming ≤ maxHamming, pigeonhole-complete
    * for maxHamming < 4.
    */
  def fpPairs(fp: DataFrame, maxHamming: Int = 3,
      bits: Int = simhashBits64): DataFrame =
    pairsFromFp(fp, maxHamming, deltaPred = None, bits)

  /** Day-2 [[fpPairs]]: only pairs touching a row matching `newPred`
    * (the q120 delta contract at the FINGERPRINT-frame level —
    * old×old discarded inside the band join, so a day's increment
    * pays increment×corpus, never corpus²). */
  def fpPairsDelta(fp: DataFrame, newPred: Column, maxHamming: Int = 3,
      bits: Int = simhashBits64): DataFrame =
    pairsFromFp(fp, maxHamming, Some(newPred), bits)

  /** EDIT-DISTANCE–VERIFIED near-dup pairs: [[simhashPairs]]
    * candidates re-checked with exact Levenshtein over each side's
    * first `prefixLen` characters — the record-linkage verify step
    * that rescues PRECISION when the fingerprint family's collision
    * rate rises (a saturating 32-bit space pairs same-topic documents
    * whose actual text differs; edit distance kills those while true
    * near-dups — small insertions/substitutions — survive).
    *
    * Scale shape: texts move only for CANDIDATE pairs (two id-keyed
    * hash joins on the banded pair frame — never all-pairs), and the
    * O(prefixLen²) DP cost is bounded by the prefix cap, not document
    * length. Levenshtein is exact integer arithmetic: codegen'd in
    * Spark, bit-identical in any engine.
    *
    * @return (da, db, hamming, edit) with edit ≤ maxEdit
    */
  def editVerifiedPairs(docs: DataFrame, maxHamming: Int = 3,
      maxEdit: Int = 20, prefixLen: Int = 200,
      bits: Int = simhashBits): DataFrame = {
    val pfx = docs.where(col("text").isNotNull)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("pfx"))
    simhashPairs(docs, maxHamming, bits)
      .join(pfx.select(col("doc_id").as("da"), col("pfx").as("pa")), "da")
      .join(pfx.select(col("doc_id").as("db"), col("pfx").as("pb")), "db")
      .select(col("da"), col("db"), col("hamming"),
        levenshtein(col("pa"), col("pb")).as("edit"))
      .where(col("edit") <= maxEdit)
  }

  /** Jaro–Winkler record-linkage verify over the same fingerprint
    * candidates as [[editVerifiedPairs]] — the similarity-score
    * companion to the edit-distance verifier: transposition-tolerant
    * and prefix-boosted, so reordered near-identical openings score
    * high where raw Levenshtein charges full price per swap. The
    * score is the native [[graft.functions.JaroWinkler]] expression
    * (bit-pinned to the oracle's builtin), rounded with the shared
    * floor(j·1e4 + 0.5)/1e4 formula so even grid-tie values agree
    * cross-engine.
    *
    * Scale shape: candidates from the banded simhash join (never
    * all-pairs); texts move only for candidate pairs; the verify is a
    * codegen'd scalar kernel over 2·prefixLen code points.
    *
    * @return (da, db, hamming, jw) with jw ≥ minSim
    */
  def jaroVerifiedPairs(docs: DataFrame, maxHamming: Int = 3,
      minSim: Double = 0.9, prefixLen: Int = 200,
      bits: Int = simhashBits): DataFrame = {
    val pfx = docs.where(col("text").isNotNull)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("pfx"))
    def jw(a: Column, b: Column): Column =
      GraftSqlShims.column(graft.functions.JaroWinkler(
        GraftSqlShims.expression(a), GraftSqlShims.expression(b)))
    simhashPairs(docs, maxHamming, bits)
      .join(pfx.select(col("doc_id").as("da"), col("pfx").as("pa")), "da")
      .join(pfx.select(col("doc_id").as("db"), col("pfx").as("pb")), "db")
      .select(col("da"), col("db"), col("hamming"),
        (floor(jw(col("pa"), col("pb")) * 1e4 + 0.5) / 1e4)
          .cast("float").as("jw"))
      .where(col("jw") >= minSim)
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo 1995) —
    * the OTHER classic blocking scheme next to [[jaroVerifiedPairs]]'
    * fingerprint bands: sort all records by a compact key (here the
    * lowercased text head), slide a `window`-record window down the
    * sorted order, and verify only pairs inside it. Catches the
    * prefix-typo near-dups hash blocking scatters (a one-char head
    * edit moves a simhash band but not the sort position) — real
    * linkage stacks run BOTH passes and union the pairs.
    *
    * Scale shape: the global sort position comes from the
    * DISTRIBUTED two-level scan ([[graft.ops.Scan.globalRunningSum]]
    * over the unique (key, doc_id) order) — never a single-task
    * row_number; the neighbor pairing is an equi-join on rank blocks
    * of width `window − 1` (each record probes its own and the
    * previous block — fan-out exactly 2), with the rank-distance
    * bound as a residual; the Jaro–Winkler verify is the same
    * codegen'd scalar kernel, applied only inside windows.
    *
    * @return (da, db, rank_dist, jw) with jw ≥ minSim, da before db
    *         in sort order
    */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 5,
      minSim: Double = 0.9, keyLen: Int = 16,
      prefixLen: Int = 200): DataFrame = {
    require(window >= 2, "a neighborhood needs at least two records")
    val g = window - 1
    val keyed = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        lower(substring(trim(col("text")), 1, keyLen)).as("k"),
        substring(col("text"), 1, prefixLen).as("pfx"))
    val ranked = graft.ops.Scan
      .globalRunningSum(keyed, Seq("k", "doc_id"), lit(1L), "rn")
      .transform(Checkpoints(_)) // both sides of the neighbor join
    def jw(a: Column, b: Column): Column =
      GraftSqlShims.column(graft.functions.JaroWinkler(
        GraftSqlShims.expression(a), GraftSqlShims.expression(b)))
    val a = ranked.select(col("doc_id").as("da"), col("pfx").as("pa"),
      col("rn").as("ra"), expr(s"(rn - 1) div $g").as("blk"))
    val b = ranked.select(col("doc_id").as("db"), col("pfx").as("pb"),
      col("rn").as("rb"),
      explode(array(expr(s"(rn - 1) div $g"),
        expr(s"(rn - 1) div $g - 1"))).as("blk"))
    a.join(b, "blk")
      .where(col("rb") > col("ra") && col("rb") - col("ra") <= g)
      .select(col("da"), col("db"),
        (col("rb") - col("ra")).as("rank_dist"),
        (floor(jw(col("pa"), col("pb")) * 1e4 + 0.5) / 1e4)
          .cast("float").as("jw"))
      .where(col("jw") >= minSim)
  }

  /** The pair family's fingerprint frame: (doc_id, simhash, fpl) — the
    * bit string parsed to a long ONCE per doc; candidates then carry
    * two longs and the verify is bit_count(xor) — scalar codegen, no
    * per-pair string/array work. toBase −10 reads the 64-bit image as
    * SIGNED: a 64-bit fingerprint with its top bit set would otherwise
    * render > Long.MaxValue and the long cast would null it out
    * (identical value for widths < 64, where the image is positive).
    * Factored out so composed callers ([[dupClustersDelta]]) derive
    * BOTH their pair families from one text scan.
    */
  private def fpFrame(docs: DataFrame, bits: Int): DataFrame =
    simhash(docs, bits) // simhash spreads internally
      .withColumn("fpl", conv(col("simhash"), 2, -10).cast("long"))

  /** [[simhashPairsDelta]] with the STANDING-CORPUS side pruned by a
    * [[graft.functions.BloomFrame]] built over the new batch's band
    * keys — the join-pruning shape for the case the plain delta form
    * leaves on the table: its band self-join still SHUFFLES every
    * corpus band row even though only rows whose (band, value) key
    * occurs in the (much smaller) batch can ever find a partner.
    * Here the corpus side is gated BEFORE its shuffle by d broadcast
    * probes against the ≤ m/64-row filter grid; a bloom has no false
    * negatives and false positives still fail the exact band-equality
    * join, so the output is IDENTICAL to [[simhashPairsDelta]] at any
    * (m, d) — the registered query shares the ungated oracle verbatim.
    *
    * Versus gating with an exact `broadcast(distinct batch keys)`
    * semi-join (the right call when the batch is small), the filter
    * stays m/64 rows however large the batch grows — the day-sized
    * ingest against a year-sized corpus keeps a broadcastable gate.
    *
    * Defaults to the 64-bit corpus-scale fingerprint path.
    */
  def simhashPairsDeltaBloom(docs: DataFrame, isNew: Column,
      maxHamming: Int = 3, bits: Int = simhashBits64,
      m: Long = 1L << 20, d: Int = 2): DataFrame = {
    val bandCount = 4
    require(maxHamming < bandCount,
      s"pigeonhole completeness needs maxHamming < $bandCount")
    require(bits % bandCount == 0, s"bits must be a multiple of $bandCount")
    val width = bits / bandCount
    val fp = fpFrame(docs, bits).withColumn("nw", isNew)
    val bands = fp.select(col("doc_id"), col("fpl"), col("nw"),
        explode(array((0 until bandCount).map(b =>
          struct(lit(b).as("band"),
            substring(col("simhash"), b * width + 1, width).as("bits"))): _*))
          .as("e"))
      .select(col("doc_id"), col("fpl"), col("nw"), col("e.band"),
        col("e.bits"))
    // fast-hash family over the raw (band, bits) pair — the gate is
    // transparent (false positives fail the exact band equi-join), so
    // no oracle ever sees these bit positions
    val bandKeyCols = Seq(col("band"), col("bits"))
    val newB = bands.where(col("nw"))
    val bloom = graft.functions.BloomFrame.buildFast(
      newB, bandKeyCols, m, d)
    val gatedOld = graft.functions.BloomFrame.mayContainFast(
        bands.where(!col("nw")), bandKeyCols, bloom, m, d)
      .where(col("bf_maybe")).drop("bf_maybe")
    // x is always a NEW band row; y ranges over gated-old ∪ new. A
    // new×old pair appears once (its old end only ever on y); new×new
    // needs the id order to not double-count. First-collision-band
    // filter as in pairsFromFp — symmetric, so least/greatest emit
    // preserves the (da < db) contract.
    def bval(c: Column, u: Int): Column =
      shiftright(c, (bandCount - 1 - u) * width)
        .bitwiseAND(lit((1L << width) - 1))
    val firstBandOnly = (0 until bandCount).map { u =>
      !(col("x.band") > u && bval(col("x.fpl"), u) === bval(col("y.fpl"), u))
    }.reduce(_ && _)
    val cond = col("x.band") === col("y.band") &&
      col("x.bits") === col("y.bits") && firstBandOnly &&
      (!col("y.nw") || col("x.doc_id") < col("y.doc_id"))
    newB.as("x").join(gatedOld.unionByName(newB).as("y"), cond)
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("da"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("db"),
        bit_count(col("x.fpl").bitwiseXOR(col("y.fpl"))).cast("int")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  private def pairsFromFp(fpIn: DataFrame, maxHamming: Int,
      deltaPred: Option[Column], bits: Int): DataFrame = {
    val bandCount = 4
    require(maxHamming < bandCount,
      s"pigeonhole completeness needs maxHamming < $bandCount")
    require(bits % bandCount == 0, s"bits must be a multiple of $bandCount")
    val width = bits / bandCount
    // the fingerprint frame feeds BOTH sides of the band self-join;
    // when the planner broadcasts one side, only the broadcast build
    // is shared (ReuseExchange) and the stream side re-runs the whole
    // fingerprint producer — for the heavy producers (audio DSP chain,
    // image hashes) that doubles the dominant cost. The frame is
    // narrow (doc_id, 64-bit string, long), so materializing it once
    // is cheap at any scale next to recomputing the producer.
    val fp = Checkpoints(fpIn)
    val flagged = deltaPred match {
      case Some(p) => fp.withColumn("nw", p)
      case None => fp
    }
    val extra = deltaPred.map(_ => col("nw")).toSeq
    val bands = flagged.select(Seq(col("doc_id"), col("fpl")) ++ extra :+
        explode(array((0 until bandCount).map(b =>
          struct(lit(b).as("band"),
            substring(col("simhash"), b * width + 1, width).as("bits"))): _*))
        .as("e"): _*)
      .select(Seq(col("doc_id"), col("fpl"), col("e.band"),
        col("e.bits")) ++ extra: _*)
    // band u's value is derivable from the fingerprint long both sides
    // already carry, so multi-band collisions dedup with the
    // first-collision-band filter (keep a pair only at its LOWEST
    // agreeing band) — cheap int compares in the join predicate
    // instead of a dropDuplicates shuffle of the candidate set.
    def bval(c: Column, u: Int): Column =
      shiftright(c, (bandCount - 1 - u) * width)
        .bitwiseAND(lit((1L << width) - 1))
    val firstBandOnly = (0 until bandCount).map { u =>
      !(col("x.band") > u && bval(col("x.fpl"), u) === bval(col("y.fpl"), u))
    }.reduce(_ && _)
    val base = col("x.band") === col("y.band") &&
      col("x.bits") === col("y.bits") &&
      col("x.doc_id") < col("y.doc_id") && firstBandOnly
    val cond = deltaPred match {
      case Some(_) => base && (col("x.nw") || col("y.nw"))
      case None => base
    }
    bands.as("x").join(bands.as("y"), cond)
      .select(col("x.doc_id").as("da"), col("x.fpl").as("fa"),
        col("y.doc_id").as("db"), col("y.fpl").as("fb"))
      .withColumn("hamming",
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Near-dup CLUSTERS: connected components over the [[simhashPairs]]
    * graph via the pointer-jumped label propagation in
    * [[graft.graph.ConnectedComponents]] (see there for the round
    * structure, checkpointing, and convergence scale notes) — every
    * doc gets the smallest doc_id reachable through near-dup edges as
    * its cluster id, plus the cluster size and a canonical flag
    * (cluster representative = lowest id, matching [[exactDedup]]'s
    * pick).
    */
  def dupClusters(docs: DataFrame, maxHamming: Int = 3,
      maxIters: Int = 50, bits: Int = simhashBits): DataFrame =
    decorateClusters(dupClusterLabels(docs, maxHamming, maxIters, bits))

  /** Bare (doc_id, cluster) labels of [[dupClusters]] — for callers
    * that need only the labels ([[graft.llm.Corpus.leakSafeSplits]]
    * keys the split rule on the cluster id alone) and should not pay
    * the size/canonical decoration's groupBy + join. */
  def dupClusterLabels(docs: DataFrame, maxHamming: Int = 3,
      maxIters: Int = 50, bits: Int = simhashBits): DataFrame = {
    val pairs = simhashPairs(docs, maxHamming, bits)
      .select(col("da").as("a"), col("db").as("b"))
    clusterLabels(docs, pairs, maxIters)
  }

  /** CC over a precomputed pair graph, labels only (the prior-state
    * side of [[dupClustersDelta]]). */
  private def clusterLabels(docs: DataFrame, pairs: DataFrame,
      maxIters: Int): DataFrame =
    graft.graph.ConnectedComponents
      .run(docs.select(col("doc_id").as("id")), pairs, maxIters)
      .select(col("id").as("doc_id"), col("component").as("cluster"))

  private def decorateClusters(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("cluster")
      .agg(count(lit(1)).cast("int").as("cluster_size"))
    labels.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).as("is_canonical"))
  }

  /** DAY-2 near-dup clusters — [[dupClusters]]' incremental form:
    * standing labels (clustered over the OLD corpus only) plus ONLY
    * the delta pairs (old×old candidates pruned inside the band
    * join), reconciled by [[graft.graph.ConnectedComponents
    * .runIncremental]] — output IDENTICAL to a full recompute over
    * the whole corpus (every full-graph edge is either old×old,
    * already folded into the prior labels, or involves a new doc and
    * rides the delta), while the iterated frame tracks new-batch
    * fan-out instead of accumulated corpus size.
    *
    * `isNewId` must be a pure function of the id column it is passed:
    * it is applied to `doc_id` and to both pair endpoints, and the
    * old×old / involving-new split is exact only when every
    * application to the same id agrees (no randomness, no
    * non-deterministic expression, no other column).
    */
  def dupClustersDelta(docs: DataFrame, isNewId: Column => Column,
      maxHamming: Int = 3, maxIters: Int = 50,
      bits: Int = simhashBits): DataFrame = {
    // ONE banded pair join over the full fingerprint frame yields BOTH
    // pair families (r17, guide §1.2/§2.4): old×old (the prior-state
    // rebuild) and involving-new (the delta) are DISJOINT slices of
    // the same all-pairs set, split by the id-derivable newness
    // predicate on the pair endpoints. The previous two pairsFromFp
    // calls shuffled the standing corpus' band rows twice (once in the
    // old×old join, again as the pruned side of the delta join) and
    // checkpointed the fingerprint frame three times. Provably
    // identical output: a (da < db, hamming ≤ max) pair either touches
    // a new doc (→ delta, the involving-new contract) or touches none
    // (→ old×old, the prior rebuild's pair set). The text is still
    // scanned and hashed exactly once — in production this fingerprint
    // frame IS the persisted store.
    val allPairs = pairsFromFp(fpFrame(docs, bits), maxHamming, None,
        bits)
      .transform(Checkpoints(_))
    val oldPairs = allPairs
      .where(!isNewId(col("da")) && !isNewId(col("db")))
      .select(col("da").as("a"), col("db").as("b"))
    val prior = clusterLabels(docs.where(!isNewId(col("doc_id"))),
        oldPairs, maxIters)
      .select(col("doc_id").as("id"), col("cluster").as("component"))
    val delta = allPairs
      .where(isNewId(col("da")) || isNewId(col("db")))
      .select(col("da").as("a"), col("db").as("b"))
    val labels = graft.graph.ConnectedComponents.runIncremental(
        docs.select(col("doc_id").as("id")), delta, prior, maxIters)
      .select(col("id").as("doc_id"), col("component").as("cluster"))
    decorateClusters(labels)
  }

  /** The payoff of clustering: near-dup dedup that keeps the BEST
    * document per cluster instead of the lowest id — the corpus a
    * training pipeline actually trains on. Composes [[dupClusters]]
    * with [[TextOps.qualityScore]]: within each cluster, rank by
    * (quality desc, doc_id) and keep rank 1. Quality is rounded to 4
    * places before ranking, so the order (and therefore `keep`) is
    * engine-reproducible.
    *
    * Scale shape: the cluster labels and the quality column are both
    * doc_id-keyed one-pass frames; the join and the per-cluster
    * row_number shuffle only the (id, cluster, quality) triples —
    * never the text.
    */
  def clusterDedup(docs: DataFrame, maxHamming: Int = 3,
      bits: Int = simhashBits): DataFrame =
    clusterDedup(docs, dupClusters(docs, maxHamming, bits = bits))

  /** [[clusterDedup]] over PRECOMPUTED cluster labels ([[dupClusters]]
    * output) — composed pipelines that already hold the labels (an
    * audit query, [[Corpus.corpusPipeline]]) skip the whole
    * simhash + connected-components recompute, which is the dominant
    * cost of the one-argument form.
    */
  def clusterDedup(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = TextOps.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
    clusters
      .join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("quality"), col("keep"))
  }

  /** Paragraph-level exact dedup (the RefinedWeb/CCNet span-removal
    * pass): split each document into consecutive `window`-token
    * segments, drop every repeat of a segment already seen elsewhere
    * in the corpus (first occurrence — lowest (doc_id, seg_idx) —
    * survives), and reassemble what is left per document. Removes the
    * boilerplate spans exact doc-level dedup can't touch while keeping
    * the documents themselves.
    *
    * The fixture corpus has no newline structure, so the segment unit
    * is a fixed token window rather than a `\n\n` split — the dedup
    * machinery (global first-occurrence claim + reassembly) is
    * identical either way; only the splitter differs.
    *
    * Scale shape: segments are claimed by grouping on a 128-bit md5
    * digest — the shuffle for the claim carries (digest, order-key)
    * pairs only, never segment text. Segment text moves exactly twice:
    * once into the digest-keyed verify join, once into the doc-keyed
    * reassembly — the floor for this operator. Both joins/aggregations
    * are hash-partitioned equi-operations with map-side partial
    * aggregation. The claim aggregate itself cannot skew (min(ord)
    * partially combines map-side), but the verify JOIN can: a viral
    * boilerplate span repeated 10⁹ times would land 10⁹ rows on one
    * digest key. `viralDf` bounds that fan-in — digests claimed by
    * more than `viralDf` rows are routed through a BROADCAST of their
    * claim winners instead of the shuffled join, so the winner filter
    * runs map-side and no reducer key ever receives more than
    * `viralDf` rows. Selection semantics are IDENTICAL on both routes
    * (first occurrence survives, every repeat drops — the
    * force-keep-first form of [[winnowedPairs]]' `maxDf` discipline);
    * only the join topology changes. The broadcast is bounded by
    * construction: at most |segments| / viralDf digests can be viral
    * (≤ ~10⁵ winner rows at 10⁹ segments with the default cap).
    *
    * @return (doc_id, n_seg, n_kept, clean_text); docs losing every
    *         segment keep a row with n_kept = 0, clean_text = ''.
    */
  def paragraphDedup(docs: DataFrame, window: Int = 20,
      viralDf: Int = 10000): DataFrame = {
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
    // k-th window = tokens [k·window+1, (k+1)·window]; nSeg = ⌈|w|/window⌉
    // (empty text still tokenizes to [""] → one segment, like tokenStats)
    val nSeg = ((size(col("w")) + lit(window - 1)) / lit(window)).cast("long")
    val segs = toks
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), nSeg - 1)).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx").cast("int").as("seg_idx"),
        array_join(slice(col("w"),
          col("seg_idx").cast("int") * window + 1, lit(window)), " ").as("seg"))
      // order key: a lexicographic struct min — exact first-occurrence
      // (doc_id, seg_idx) order for ANY document length, unlike a
      // doc_id·10⁶ + seg_idx packed long which silently corrupts the
      // claim order past 10⁶ segments
      .withColumn("ord", struct(col("doc_id"), col("seg_idx")))
      .withColumn("dig", md5(col("seg").cast("binary")))
    // claims feeds BOTH routes below — materialize once (the
    // corpusPipeline persist-point discipline; exchange reuse across a
    // shuffled-join branch and a broadcast branch is not guaranteed,
    // and recomputing claims means re-shuffling every digest)
    val claims = segs.groupBy(col("dig"))
      .agg(min(col("ord")).as("w_ord"), count(lit(1)).as("df"))
      .transform(Checkpoints(_))
    // normal digests take the hash join with per-key fan-in <=
    // viralDf, viral ones the broadcast winner map
    val normal = claims.where(col("df") <= viralDf).drop("df")
    val viral = claims.where(col("df") > viralDf).drop("df")
    val kept = segs.join(normal, "dig")
      .where(col("ord") === col("w_ord"))
      .unionByName(segs.join(broadcast(viral), "dig")
        .where(col("ord") === col("w_ord")))
    // per-doc totals come straight from the token counts — a pure map,
    // no third segmentation pass and no extra groupBy shuffle
    val totals = toks.select(col("doc_id"), nSeg.cast("int").as("n_seg"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(sort_array(collect_list(struct(col("seg_idx"),
          col("seg")))).getField("seg"), " ").as("clean_text"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_seg"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CONTENT-DEFINED CHUNKING (the LBFS/rsync/dedup-storage rule) over
    * the token stream: cut after token p whenever the k-token gram
    * ENDING at p hashes to 0 mod `mask` — boundaries depend only on
    * LOCAL content, so an insertion near a document's head shifts
    * every byte offset yet leaves all downstream chunk boundaries (and
    * digests) intact. That shift-robustness is what fixed windows
    * ([[paragraphDedup]]) lose to a single leading edit, and it makes
    * chunk-digest equality the storage-dedup granularity: two
    * revisions of a document share every chunk outside the edited
    * span. Expected chunk length ≈ `mask` tokens.
    *
    * Output carries each chunk's corpus document-frequency — the
    * boilerplate-span signal at chunk granularity (the df angle of
    * [[winnowedPairs]]' stop-fingerprint rule, here as data rather
    * than a cap).
    *
    * Scale shape: gram hashes ride the exploded token rows (pure map);
    * the boundary cumsum and the chunk assembly share ONE doc-keyed
    * exchange (the groupBy key (doc_id, chunk_idx) is a refinement of
    * the window's hash(doc_id) partitioning); the df aggregate
    * shuffles 16-byte digests only. Chunk text moves exactly once —
    * into the doc-keyed assembly.
    *
    * @return (doc_id, chunk_idx, start, n_tokens, dig, df)
    */
  def cdcChunks(docs: DataFrame, k: Int = 4, mask: Int = 8): DataFrame = {
    val chunks = cdcChunkFrame(docs, k, mask)
    val dfreq = chunks.groupBy(col("dig"))
      .agg(countDistinct(col("doc_id")).as("df"))
    chunks.join(dfreq, "dig")
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        col("n_tokens"), col("dig"), col("df"))
  }

  /** DAY-2 composition of [[cdcChunks]]: per NEW document (marked by
    * the doc_id predicate `isNewId`), how much of its chunk mass is
    * NOVEL vs the standing corpus — the deduplicated-storage /
    * incremental-ingest estimate (a revision of an existing doc
    * re-admits only its edited chunks). The corpus side reduces to a
    * distinct 16-byte digest set before the membership join; chunk
    * text never crosses the new/old boundary.
    *
    * @return (doc_id, n_chunks, n_novel, novel_ratio) for new docs
    */
  def cdcNovelty(docs: DataFrame, isNewId: Column => Column, k: Int = 4,
      mask: Int = 8): DataFrame = {
    // one chunking pass serves both sides (in production this frame is
    // the persisted chunk store)
    val chunks = Checkpoints(cdcChunkFrame(docs, k, mask))
    val oldDigs = chunks.where(!isNewId(col("doc_id")))
      .select(col("dig")).distinct()
    val newCh = chunks.where(isNewId(col("doc_id")))
    newCh.join(oldDigs.withColumn("known", lit(true)), Seq("dig"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).cast("int")
          .as("n_novel"))
      .withColumn("novel_ratio",
        round(col("n_novel").cast("double") / col("n_chunks"), 4)
          .cast("float"))
  }

  /** The bare (doc_id, chunk_idx, start, n_tokens, dig) chunk frame
    * shared by [[cdcChunks]] (df decoration) and [[cdcNovelty]]
    * (membership against the standing corpus). */
  private def cdcChunkFrame(docs: DataFrame, k: Int, mask: Int): DataFrame = {
    require(k >= 1 && mask >= 1, "k and mask must be >= 1")
    val toks = spread(docs.where(col("text").isNotNull))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
    val pos = toks
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")))).as("p"))
      .select(col("doc_id"), col("p"),
        element_at(col("w"), col("p")).as("t"),
        when(col("p") >= k,
          conv(substring(md5(concat_ws(" ",
              slice(col("w"), col("p") - (k - 1), lit(k))).cast("binary")),
            1, 8), 16, 10).cast("long") % mask === 0)
          .otherwise(lit(false)).as("cut"))
    val prior = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val assigned = pos.withColumn("chunk_idx",
      coalesce(sum(col("cut").cast("long")).over(prior), lit(0L))
        .cast("int"))
    assigned.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min(col("p")).cast("int").as("start"),
        count(lit(1)).cast("int").as("n_tokens"),
        md5(array_join(sort_array(collect_list(struct(col("p"), col("t"))))
          .getField("t"), " ").cast("binary")).as("dig"))
  }

  /** Map-only fingerprinting via the native [[graft.functions.SimHashFp]]
    * kernel: each token is digested where its document sits, so the
    * operator has ZERO shuffles (the explode → md5 → per-bit-aggregate
    * groupBy it replaces exchanged every token row of the corpus).
    * `bits` = 32 (legacy surface) or 64 (corpus-scale Hamming family).
    */
  def simhash(docs: DataFrame, bits: Int = simhashBits): DataFrame =
    // NULL-text docs are dropped, matching the aggregate spec (its
    // explode produces no rows for them) — without the filter the map
    // kernel would emit a NULL-fingerprint row the oracle never sees.
    spread(docs).where(col("text").isNotNull)
      .select(col("doc_id"),
        GraftSqlShims.column(graft.functions.SimHashFp(
          GraftSqlShims.expression(TextOps.tokens(col("text"))), bits))
          .as("simhash"))

  /** The shuffle-based formulation [[simhash]] replaced — kept as the
    * executable spec the native kernel is pinned against
    * (MinHashSigSpec).
    */
  private[graft] def simhashViaAgg(docs: DataFrame,
      bits: Int = simhashBits): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val contribs = (0 until bits).map { j =>
      val nib = conv(substring(col("h"), 1 + j / 4, 1), 16, 10).cast("int")
      val bit = shiftright(nib, 3 - j % 4).bitwiseAND(lit(1))
      sum(bit * 2 - 1).as(s"c$j")
    }
    toks.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"), concat((0 until bits).map(j =>
        when(col(s"c$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }
}
