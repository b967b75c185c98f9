package graft.queries

import graft.Checkpoints
import graft.SharedBuilds.memo
import graft.llm.{Dedup, Multimodal, Pca, Retrieval, Similarity, TextOps}
import graft.queries.QueryPack.r6
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators over the documents/embeddings
  * fixtures: dedup (exact, inverted-index Jaccard, banded MinHash LSH,
  * SimHash), text analysis (token stats, quality, language scoring,
  * TF-IDF), similarity search (brute-force + LSH ANN), and the
  * multimodal joined frame.
  *
  * Oracle notes: ranking queries rank on ROUNDED scores with id/term
  * tie-breaks so both engines order identical values. q65 (banded
  * MinHash), q69 (LSH ANN), and q71 (IVF ANN) carry FULL oracles:
  * their pipelines are deterministic end-to-end (MinHashSigMd5 affine
  * signatures with literal constants; md5-parity planes; lowest-id
  * centroid init + fixed Lloyd iterations), so DuckDB re-derives the
  * signatures/bucketing/quantization itself — every check is
  * recall-independent and no rows-only checks remain anywhere.
  * Recall (an accuracy property, not a correctness one) is separately
  * pinned in ScalaTest against q68's exact answer.
  */
object LlmPack extends QueryPack {

  /** The one extension-enabled session this process ever builds (q107)
    * — per-invocation sessions would pile up unstoppable (stopping one
    * would stop the shared SparkContext) with the rewrite flag left
    * force-enabled on each. Built once with default/active cleared so
    * `getOrCreate` applies the extensions, then the previous session
    * state is restored; later calls reuse it.
    */
  @volatile private var extSessionCache: Option[org.apache.spark.sql.SparkSession] = None

  /** Memoized q165 BM25 run (docs querying themselves with the
    * sampled term sets) — FOUR queries consume the identical frame
    * (q165/q253/q260/q225 × bench samples), so it is a shared build
    * ([[graft.SharedBuilds.memo]]) instead of re-running postings +
    * ranking four times.
    */
  private val bm25Run = memo("bm25_run") { (s, d) =>
    val docs = t("documents")(s, d)
    Retrieval.bm25TopK(docs, Retrieval.sampleQueries(docs))
      .transform(Checkpoints(_))
  }

  /** Memoized unigram-LM training artifacts (pruned vocab + final
    * Viterbi segmentations at the q238 maxWordLen = 8 config) —
    * THREE queries (q238/q239/q242 × bench samples) consume the same
    * EM run, so it executes once per (session, dir).
    */
  private val unigramTrained = memo("unigram_train") { (s, d) =>
    val (pruned, segs) = graft.llm.Unigram.train(
      t("documents")(s, d), maxWordLen = 8)
    (pruned, Checkpoints(segs))
  }

  /** Memoized Lloyd k-means bundle (one-row centroid array + assigned
    * (vec_id, v, n2, cell), both checkpointed) at the default
    * nlist = 16 / iters = 2 config — FIVE queries consume the same
    * training artifact (q71 IVF, q139 SemDeDup, q246 k-means table,
    * q313 silhouette, q314 Davies–Bouldin × bench samples), and each
    * used to re-run the 2-iteration Lloyd chain from scratch (r12
    * verdict item #2).
    */
  private val lloydBundle = memo("lloyd_bundle") { (s, d) =>
    val (cents, assigned) =
      Similarity.lloydArtifact(t("embeddings")(s, d))
    (Checkpoints(cents), Checkpoints(assigned))
  }

  /** Memoized near-dup cluster frame ([[graft.llm.Dedup.dupClusters]]
    * output: doc_id, cluster, cluster_size, is_canonical) — FOUR
    * queries consume the same simhash-pair + pointer-jumped-CC build
    * (q82 clusters, q85 cluster dedup, q149 balanced sample, q368
    * size distribution × bench samples), each ~5 s at sf0.1, and each
    * used to re-run the whole family from scratch (r13 verdict item
    * #1 — the q172/q183 story repeating). q133's DAY-2 incremental
    * form stays un-memoized on purpose: its point is exercising the
    * delta-reconciliation path, not the full recompute.
    */
  private val dupClustersBuilt = memo("dup_clusters") {
    (s, d) => Checkpoints(Dedup.dupClusters(t("documents")(s, d)))
  }

  private def extensionSession(): org.apache.spark.sql.SparkSession =
    synchronized {
      import org.apache.spark.sql.SparkSession
      extSessionCache match {
        case Some(s2) if !s2.sparkContext.isStopped => s2
        case _ =>
          val prevDefault = SparkSession.getDefaultSession
          val prevActive = SparkSession.getActiveSession
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          try {
            // getOrCreate reuses the live SparkContext; extensions
            // apply because no default/active session exists here
            val s2 = SparkSession.builder()
              .withExtensions(new graft.functions.GraftExtensions())
              .getOrCreate()
            extSessionCache = Some(s2)
            s2
          } finally {
            // restore OR clear — a bare foreach would leave s2 (with
            // the rewrite force-enabled) as the process-wide default
            // when no session existed before, silently changing
            // unrelated queries
            prevDefault match {
              case Some(s) => SparkSession.setDefaultSession(s)
              case None => SparkSession.clearDefaultSession()
            }
            prevActive match {
              case Some(s) => SparkSession.setActiveSession(s)
              case None => SparkSession.clearActiveSession()
            }
          }
      }
    }

  val queries: Map[String, Q] = Map(
    "q60_exact_dedup" -> ((s, d) => Dedup.exactDedup(t("documents")(s, d))),
    "q61_token_stats" -> ((s, d) => TextOps.tokenStats(t("documents")(s, d))),

    // Multinomial Naive Bayes language classifier (the fastText-filter
    // shape of production curation pipelines), trained and scored
    // transductively over the labeled corpus: per-class token stats,
    // Laplace smoothing, every ln pico-floored to an integer BEFORE
    // any cross-row sum (the q355 discipline), argmax on exact
    // integers with a (score desc, class asc) total order.
    "q389_naive_bayes" -> ((s, d) =>
      graft.llm.NaiveBayes.classifyLang(t("documents")(s, d),
        nbClasses)),

    // Feature-hashing vectorizer (Weinberger 2009): tokens → md5
    // high-16 mod 64 buckets (the CMS hash family), exact counts per
    // (doc, bucket) — the vocabulary-free fixed-width BOW.
    "q390_feature_hash" -> ((s, d) =>
      TextOps.featureHash(t("documents")(s, d), d = 64)),
    "q62_quality_score" -> ((s, d) => TextOps.qualityScore(t("documents")(s, d))),
    "q63_lang_id" -> ((s, d) => TextOps.langId(t("documents")(s, d))),
    // The prefix-filtered variant is registered: same exact contract,
    // but it is the one that survives Zipf-skewed corpora (hot shingles
    // never enter the candidate join). The plain inverted-index variant
    // stays available (and ~2× faster on the flat-vocabulary fixture)
    // as Dedup.jaccardPairs.
    "q64_jaccard_pairs" -> ((s, d) => Dedup.jaccardPairsPrefix(t("documents")(s, d))),
    // Delta dedup: every third doc plays the incoming batch; output =
    // exact near-dup pairs involving a new doc (old×old pairs are
    // discarded inside the candidate join, the daily-ingest shape).
    "q95_delta_dedup" -> ((s, d) =>
      Dedup.jaccardPairsDelta(t("documents")(s, d), col("doc_id") % 3 === 0)),
    // q95 through the bloom gate over the prefix-filter hashes — with
    // q155/q156 this closes the matrix: EVERY delta family carries a
    // pre-shuffle corpus-side gate. Identical output, q95's oracle.
    "q157_jaccard_delta_bloom" -> ((s, d) =>
      Dedup.jaccardPairsDeltaBloom(t("documents")(s, d),
        col("doc_id") % 3 === 0)),
    // Same delta contract for the simhash family: exact ≤3-bit pairs
    // involving a new doc, via the pigeonhole band join.
    "q96_simhash_delta" -> ((s, d) =>
      Dedup.simhashPairsDelta(t("documents")(s, d), col("doc_id") % 3 === 0)),
    "q65_minhash_lsh" -> ((s, d) => Dedup.minhashPairs(t("documents")(s, d))),
    "q66_simhash" -> ((s, d) => Dedup.simhash(t("documents")(s, d))),
    // Split-leakage audit: near-dup pairs (Hamming ≤ 3) straddling a
    // train/val/test boundary — the eval contamination a pipeline must
    // catch before trusting held-out metrics.
    "q115_split_leaks" -> ((s, d) =>
      graft.llm.Corpus.crossSplitLeaks(t("documents")(s, d))),
    // The PREVENTION counterpart of the audits: split decided by the
    // near-dup cluster id, so no ≤3-Hamming pair can straddle a
    // boundary by construction (LlmSpec proves the audit over this
    // assignment is empty).
    // composes from the SAME memoized cluster build as q82/q85/q149/
    // q368 (identical labels; the split rule reads only the cluster
    // id) instead of re-running simhash + CC from scratch
    "q126_leak_safe_splits" -> ((s, d) =>
      graft.llm.Corpus.leakSafeSplitsFromClusters(dupClustersBuilt(s, d))),
    // The same audit under the SET-SIMILARITY definition: Jaccard ≥
    // 0.3 pairs straddling a split boundary, via the prefix-filtered
    // delta machinery (majority×majority pairs pruned inside the
    // candidate join — ~81% of the pair space never shuffles).
    "q121_split_leaks_jaccard" -> ((s, d) =>
      graft.llm.Corpus.crossSplitLeaksJaccard(t("documents")(s, d))),
    // And under the SUBSTRING-OVERLAP definition: winnowed-fingerprint
    // pairs straddling a boundary — catches verbatim runs that
    // whole-doc similarity dilutes away (the MOSS sketch composed into
    // the curation story, not just standalone).
    "q122_split_leaks_winnow" -> ((s, d) =>
      graft.llm.Corpus.crossSplitSubstringLeaks(t("documents")(s, d))),
    // Winnowing (MOSS) substring-overlap pairs: windowed min-hash
    // fingerprint selection with the (hash, −pos) rightmost-tie rule,
    // then an fp-keyed join — catches unaligned shared substrings of
    // ≥ w+k−1 = 8 tokens, which whole-set Jaccard and aligned-window
    // paragraph dedup cannot.
    "q113_winnowing" -> ((s, d) =>
      Dedup.winnowedPairs(t("documents")(s, d))),
    // EXACT duplicate-span extraction (Lee et al. 2022 class): every
    // maximal repeated span of ≥ 8 tokens across doc pairs, LOCALIZED
    // as (start_a, start_b, span_len) token offsets — n-gram anchors
    // equi-joined on 48-bit md5, maximal runs by gaps-and-islands per
    // (pair, diagonal). The span-level cut operator the winnowing
    // family's doc-level flags cannot provide.
    "q236_dup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(t("documents")(s, d))),
    // The dedup ACTION on the q236 span table: covered positions of
    // the higher doc cut, survivor keeps its copy, docs re-assembled
    // in token order — span-level removal, not document dropping.
    "q241_span_cut" -> ((s, d) =>
      Dedup.cutDuplicateSpans(t("documents")(s, d))),
    // The HARDENED cut with Lee et al. 2022's deduplicate-text-
    // datasets semantics: within-doc repeats join the span table,
    // only spans >= 12 tokens are cut (anchor granularity decoupled
    // from the cut threshold), and the cut side is always the LATER
    // occurrence in (doc, pos) order — of all occurrences of a
    // duplicated span corpus-wide, exactly the first survives.
    "q328_span_cut_first" -> ((s, d) =>
      Dedup.cutSpansAllButFirst(t("documents")(s, d))),
    // ExactSubstr at the PRODUCTION 50-token grain (Lee et al. 2022's
    // actual contract, r15): positions whose 50-gram occurs > 1×
    // corpus-wide (across docs OR within one), merged to maximal
    // spans — occurrence-count based, so no pair join, no df cap, no
    // approximation, unlike the q236 pair-diagonal family.
    "q398_exact_substr" -> ((s, d) =>
      Dedup.exactSubstrSpans(t("documents")(s, d))),
    // The ExactSubstr CUT: all occurrences of every duplicated
    // ≥ 50-token span removed (the released tool's default), docs
    // re-assembled in token order.
    "q399_exact_substr_cut" -> ((s, d) =>
      Dedup.exactSubstrCut(t("documents")(s, d))),
    // q398's contract on the RollingGramFp rolling kernel (r16 — the
    // stated 100 TB path): O(tokens) per-position gram hashes, dup
    // marking via map-side-combined groupBy count + hash-probe semi
    // join instead of a window over the gram hash. Output identical
    // to q398; shares its oracle verbatim (the q383/q384 contract).
    "q406_exact_substr_rolling" -> ((s, d) =>
      Dedup.exactSubstrSpansRolling(t("documents")(s, d))),
    // Per-doc token counts under the q238 unigram vocabulary (the
    // q145 bpeEncode analog — the second tokenizer's inference side).
    "q242_unigram_encode" -> ((s, d) =>
      graft.llm.Unigram.encodeView(t("documents")(s, d),
        unigramTrained(s, d)._2)),
    // BYTE-granular FastCDC chunk dedup over binary payloads (the
    // native FastCdc cut-point expression + digest-df groupBy): the
    // storage-dedup / multimodal counterpart of the token-level q179.
    "q240_fastcdc_dedup" -> ((s, d) =>
      Dedup.fastCdcDedup(t("documents")(s, d))),
    // 64-bit image average-hash (aHash) over deterministic noisy
    // synthetic PPMs: decode → integer grayscale → 8×8 grid →
    // above-mean bits (exact 64·g ≥ Σg compare) — the perceptual
    // fingerprint of image-dedup pipelines.
    "q244_image_ahash" -> ((s, d) =>
      Multimodal.aHashPayloads(Multimodal.syntheticNoisyPpmFrame(
        t("documents")(s, d).select(col("doc_id"))))
        .select(col("doc_id"), col("simhash").as("ahash"))),
    // Near-duplicate IMAGES: the banded Hamming pair join applied to
    // the aHash fingerprints — base-sharing replicas (small pixel
    // noise) pair at Hamming ≤ 3, unrelated images are independent
    // 64-bit draws and never collide.
    "q245_image_ahash_pairs" -> ((s, d) =>
      Dedup.fpPairs(Multimodal.aHashPayloads(
        Multimodal.syntheticNoisyPpmFrame(
          t("documents")(s, d).select(col("doc_id")))), maxHamming = 3)),
    // Sobel edge-energy FEATURE EXTRACTION per image (the gradient
    // pass of multimodal curation — blank/blur filtering, complexity
    // stratification — beside the q244/q275/q301 dedup hashes):
    // integer grayscale, 3x3 kernels at interior pixels, L1 magnitude
    // — exact integers end-to-end, the synthetic-image oracle
    // re-derives every feature arithmetically.
    "q336_sobel_features" -> ((s, d) =>
      Multimodal.sobelFeatures(Multimodal.syntheticNoisyPpmFrame(
        t("documents")(s, d).select(col("doc_id"))))),
    // Grayscale-histogram entropy per image — the low-information
    // filter beside q336's edge energy: blank scrapes concentrate in
    // one bin; the 16 bin counts come out as named columns so the
    // entropy is one fixed expression, ln16 a plan-time literal.
    "q374_image_entropy" -> ((s, d) => {
      val h = Multimodal.grayHistogram(Multimodal.syntheticNoisyPpmFrame(
        t("documents")(s, d).select(col("doc_id"))))
      val tot = col("n_pixels").cast("double")
      val ent = (0 until 16).map { i =>
        val p = col(s"b$i").cast("double") / tot
        when(col(s"b$i") > 0, -(p * log(p))).otherwise(lit(0.0))
      }.reduce(_ + _)
      h.select(col("doc_id"), col("n_pixels"),
        round(ent / lit(2.772588722239781), 4).cast("float")
          .as("entropy_norm"))
    }),
    // Per-doc silence audit over the q176 window features: a window
    // is silent when its energy is under a quarter of the doc mean —
    // the exact-integer cross-multiply 4·e·n < Σe, no division in
    // the rule.
    "q375_audio_silence" -> ((s, d) => {
      val af = Multimodal.audioFeatures(Multimodal.decodeWavFrame(
        Multimodal.syntheticWavFrame(
          t("documents")(s, d).select(col("doc_id")))))
      val tot = af.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"), sum(col("energy")).as("tot_e"))
      af.join(tot, "doc_id")
        .select(col("doc_id"), col("n_windows"),
          (col("energy") * col("n_windows") * 4 < col("tot_e"))
            .as("silent"))
        .groupBy(col("doc_id"), col("n_windows"))
        .agg(sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"))
        .select(col("doc_id"), col("n_windows"), col("n_silent"),
          round(col("n_silent").cast("double") /
            col("n_windows").cast("double"), 4).cast("float")
            .as("silence_ratio"))
    }),
    // Embedding L2-norm audit — the broken-embeddings QA gate before
    // any indexing: exact Σq² on the PCA quantization grid, z-score
    // outlier rule on exact moments.
    "q376_embedding_norms" -> ((s, d) =>
      Similarity.embeddingNorms(t("embeddings")(s, d))),
    // 64-bit difference hash (dHash) — the GRADIENT member completing
    // the spatial/frequency perceptual-hash trio beside q244's mean
    // (aHash) and q275's DCT (pHash): sign of the horizontal
    // brightness difference on the same 8×8 grid, wrap-closed rows —
    // exactly invariant to uniform brightness shifts (spec-pinned;
    // aHash is only near-invariant, pHash absorbs them in DC).
    "q301_image_dhash" -> ((s, d) =>
      Multimodal.dHashPayloads(Multimodal.syntheticNoisyPpmFrame(
        t("documents")(s, d).select(col("doc_id"))))
        .select(col("doc_id"), col("simhash").as("dhash"))),

    // 64-bit DCT hash (pHash) over the same synthetic image family:
    // exact-integer 2-D DCT-II via fixed-point cosine tables (shared
    // verbatim with the oracle — no libm in either query path), bits
    // from the strict median-AC compare. The frequency-domain
    // perceptual fingerprint that shrugs off the brightness shifts
    // aHash flips on.
    "q275_image_phash" -> ((s, d) =>
      Multimodal.pHashPayloads(Multimodal.syntheticNoisyPpmFrame(
        t("documents")(s, d).select(col("doc_id"))))
        .select(col("doc_id"), col("simhash").as("phash"))),
    // Near-duplicate images under pHash: the q245 banded Hamming
    // pair join applied to the DCT fingerprints.
    "q276_phash_pairs" -> ((s, d) =>
      Dedup.fpPairs(Multimodal.pHashPayloads(
        Multimodal.syntheticNoisyPpmFrame(
          t("documents")(s, d).select(col("doc_id")))), maxHamming = 3)),
    // Cohen's kappa label audit (Cohen 1960): does the DECLARED lang
    // column agree with the n-gram detector BEYOND CHANCE? The
    // inter-annotator-agreement statistic over the (declared,
    // detected) confusion matrix — po/pe from exact counts and
    // margin products, chance-corrected κ = (po − pe)/(1 − pe) —
    // the label-quality gate raw accuracy overstates when one class
    // dominates. Confusion cells + the broadcast summary row.
    "q289_label_agreement" -> ((s, d) => {
      val docs = t("documents")(s, d)
        .where(col("text").isNotNull && col("lang").isNotNull)
      val pred = TextOps.langId(docs)
        .select(col("doc_id"), col("predicted_lang"))
      val cells = docs.select(col("doc_id"), col("lang").as("declared"))
        .join(pred, "doc_id")
        .groupBy(col("declared"), col("predicted_lang").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .transform(Checkpoints(_)) // feeds margins, total, agree, output
      val tot = cells.agg(sum(col("n")).as("nn"))
      val agree = cells.where(col("declared") === col("predicted"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("na"))
      val rws = cells.groupBy(col("declared")).agg(sum(col("n")).as("rn_"))
      val cls = cells.groupBy(col("predicted")).agg(sum(col("n")).as("cn_"))
      val pen = rws.join(cls, col("declared") === col("predicted"))
        .agg(coalesce(sum(col("rn_").cast("decimal(19,0)") *
          col("cn_").cast("decimal(19,0)")),
          lit(0).cast("decimal(38,0)")).as("pen"))
      val po = col("na").cast("double") / col("nn")
      val pe = col("pen").cast("double") /
        (col("nn").cast("double") * col("nn").cast("double"))
      val summary = broadcast(tot.crossJoin(agree).crossJoin(pen)
        .select(col("nn").as("n_total"), r6(po).as("po"),
          r6(pe).as("pe"),
          when(pe < 1, r6((po - pe) / (lit(1d) - pe))).as("kappa")))
      cells.crossJoin(summary)
        .select(col("declared"), col("predicted"), col("n"),
          col("n_total"), col("po"), col("pe"), col("kappa"))
    }),
    // Near-dup image CLUSTERS: the q276 pHash pairs closed into
    // components (pointer-jumped CC, smallest doc_id canonical) —
    // the q229 entity-resolution composition on the image side, i.e.
    // the keep-one-per-cluster action image dedup actually ships.
    "q283_image_dup_clusters" -> ((s, d) => {
      val ids = t("documents")(s, d).select(col("doc_id"))
      val pairs = Dedup.fpPairs(Multimodal.pHashPayloads(
          Multimodal.syntheticNoisyPpmFrame(ids)), maxHamming = 3)
        .select(col("da").as("a"), col("db").as("b"))
      val labels = graft.graph.ConnectedComponents.run(
          ids.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
      val sizes = labels.groupBy(col("cluster"))
        .agg(count(lit(1)).cast("int").as("cluster_size"))
      labels.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          (col("doc_id") === col("cluster")).as("is_canonical"))
    }),
    // Day-2 image dedup: the q276 pair family restricted to pairs
    // touching the new batch (doc_id % 3 = 0, the q120 delta
    // convention) — old×old pruned inside the band join, so the
    // daily increment pays increment×corpus, never corpus².
    "q284_phash_delta" -> ((s, d) =>
      Dedup.fpPairsDelta(Multimodal.pHashPayloads(
        Multimodal.syntheticNoisyPpmFrame(
          t("documents")(s, d).select(col("doc_id")))),
        col("doc_id") % 3 === 0, maxHamming = 3)),
    // 64-bit audio fingerprint (the single-band form of Haitsma &
    // Kalker 2002's energy-difference fingerprint): WAV decode →
    // 16-sample frame energies (exact Σx²) → sign-of-derivative
    // bits — the audio member of the perceptual-hash family, all
    // integer, zero shuffles in the map stage.
    "q277_audio_fp" -> ((s, d) =>
      Multimodal.audioFingerprint(Multimodal.decodeWavFrame(
        Multimodal.syntheticNoisyWavFrame(
          t("documents")(s, d).select(col("doc_id")))))
        .select(col("doc_id"), col("simhash").as("afp"))),
    // Near-duplicate audio: the banded Hamming pair join over the
    // energy-difference fingerprints (replicas = tiny additive
    // noise pair close; unrelated sawtooth bases decorrelate).
    "q278_audio_fp_pairs" -> ((s, d) =>
      Dedup.fpPairs(Multimodal.audioFingerprint(
        Multimodal.decodeWavFrame(Multimodal.syntheticNoisyWavFrame(
          t("documents")(s, d).select(col("doc_id"))))),
        maxHamming = 3)),
    // Near-dup audio CLUSTERS: q278's fingerprint pairs closed into
    // components (pointer-jumped CC, smallest doc_id canonical) —
    // the q283 composition on the audio side, completing the
    // fp → pairs → clusters → delta matrix for both modalities.
    "q291_audio_dup_clusters" -> ((s, d) => {
      val ids = t("documents")(s, d).select(col("doc_id"))
      val pairs = Dedup.fpPairs(Multimodal.audioFingerprint(
          Multimodal.decodeWavFrame(
            Multimodal.syntheticNoisyWavFrame(ids))), maxHamming = 3)
        .select(col("da").as("a"), col("db").as("b"))
      val labels = graft.graph.ConnectedComponents.run(
          ids.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
      val sizes = labels.groupBy(col("cluster"))
        .agg(count(lit(1)).cast("int").as("cluster_size"))
      labels.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          (col("doc_id") === col("cluster")).as("is_canonical"))
    }),
    // Day-2 audio dedup: q278's pair family restricted to pairs
    // touching the new batch (doc_id % 3 = 0, the q120/q284 delta
    // convention) — old×old pruned inside the band join, so the
    // daily increment pays increment×corpus, never corpus².
    "q292_audio_fp_delta" -> ((s, d) =>
      Dedup.fpPairsDelta(Multimodal.audioFingerprint(
        Multimodal.decodeWavFrame(Multimodal.syntheticNoisyWavFrame(
          t("documents")(s, d).select(col("doc_id"))))),
        col("doc_id") % 3 === 0, maxHamming = 3)),
    // Scene-cut (shot-boundary) detection over the synthetic video
    // family: frames recovered by q88's sampler, per-frame aHash, one
    // lag window per doc, cut where the consecutive-frame Hamming
    // jump ≥ 16 — the frame-SEQUENCE member of the multimodal matrix
    // (q88 samples frames; this models their temporal structure).
    "q293_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(Multimodal.syntheticVideoFrame(
        t("documents")(s, d).select(col("doc_id"))),
        frameBytes = Multimodal.videoFrameBytes)),
    // Unigram-LM tokenizer training (Kudo 2018 / SentencePiece): seed
    // substring vocab → 2 hard-EM rounds (Viterbi E-step on scaled-ln
    // integer scores, frequency-weighted M-step with the char floor)
    // → prune to top-40 + alphabet. The DP's total tie order
    // (−score, n_pieces, piece-array) is extension-monotone, so the
    // oracle's brute enumeration + argmin provably agrees.
    "q238_unigram_train" -> ((s, d) =>
      graft.llm.Unigram.vocabView(unigramTrained(s, d)._1)),
    // The shipped per-word segmentations under the pruned vocabulary
    // (the inference artifact next to q238's vocab table).
    "q239_unigram_segment" -> ((s, d) =>
      graft.llm.Unigram.segmentView(unigramTrained(s, d)._2)),
    // The substring-overlap member of the delta matrix (jaccard q95,
    // simhash q96/q120): winnowed pairs involving a new doc only,
    // old×old discarded inside the fp-keyed join; the stop-fp cap
    // stays world-global, so q113's oracle applies with a filter.
    "q137_winnow_delta" -> ((s, d) =>
      Dedup.winnowedPairsDelta(t("documents")(s, d),
        col("doc_id") % 3 === 0)),
    // q137 through the BloomFrame JOIN-PRUNING gate (the q135
    // pattern over fingerprints): standing-corpus fp rows the batch
    // never mentions are shed before the pair shuffle; identical
    // output, q137's oracle verbatim.
    "q155_winnow_delta_bloom" -> ((s, d) =>
      Dedup.winnowedPairsDeltaBloom(t("documents")(s, d),
        col("doc_id") % 3 === 0)),
    "q74_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t("documents")(s, d))),
    // Edit-distance verification over the simhash candidates: exact
    // Levenshtein on 200-char prefixes — texts move only for banded
    // candidate pairs — rescuing precision where the 32-bit
    // fingerprint space pairs same-topic-different-text docs
    // (725 candidates → 23 true near-dups at sf0.01).
    "q196_edit_verified" -> ((s, d) =>
      Dedup.editVerifiedPairs(t("documents")(s, d))),
    // Jaro-Winkler record linkage over the same candidates: the
    // native Catalyst expression (bit-pinned to DuckDB's vendored
    // RapidFuzz builtin — fuzz-verified) verifies fingerprint pairs
    // by prefix similarity; the shared floor-rounding formula keeps
    // even grid-tie scores identical cross-engine.
    "q224_jaro_linkage" -> ((s, d) =>
      Dedup.jaroVerifiedPairs(t("documents")(s, d))),
    // Sorted-neighborhood blocking (Hernández & Stolfo 1995): the
    // OTHER classic linkage blocking next to q224's fingerprint
    // bands — global sort-key rank via the distributed two-level
    // scan, window-5 neighbor pairs via rank-block equi-join, the
    // same codegen'd Jaro–Winkler verify.
    "q279_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhoodPairs(t("documents")(s, d))),
    // Entity resolution end-to-end: the q224 linkage pairs close into
    // clusters (pointer-jumped CC, smallest doc_id canonical) — the
    // "same real-world entity" grouping record linkage exists for.
    "q229_linkage_clusters" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val pairs = Dedup.jaroVerifiedPairs(docs)
        .select(col("da").as("a"), col("db").as("b"))
      val labels = graft.graph.ConnectedComponents.run(
          docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
      val sizes = labels.groupBy("cluster")
        .agg(count(lit(1)).cast("int").as("cluster_size"))
      labels.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          (col("doc_id") === col("cluster")).as("is_canonical"))
    }),
    // The CORPUS-SCALE fingerprint width: same map-only kernel and
    // pigeonhole band join at 64 bits / 4×16-bit bands — 65 536
    // buckets per band keep the candidate join selective at ≥ 10⁸
    // docs, where the 32-bit family's 256-bucket bands degenerate
    // toward all-pairs and its fingerprint space saturates with
    // spurious exact collisions.
    "q118_simhash64" -> ((s, d) =>
      Dedup.simhash(t("documents")(s, d), Dedup.simhashBits64)),
    "q119_simhash64_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t("documents")(s, d), bits = Dedup.simhashBits64)),
    // Delta contract at 64 bits: pairs involving a new doc only,
    // old×old discarded inside the 16-bit band join.
    "q120_simhash64_delta" -> ((s, d) =>
      Dedup.simhashPairsDelta(t("documents")(s, d), col("doc_id") % 3 === 0,
        bits = Dedup.simhashBits64)),
    // q120's contract through the BloomFrame JOIN-PRUNING gate: the
    // standing corpus' band rows are pre-filtered, BEFORE the
    // candidate shuffle, by a bloom built over the batch's band keys.
    // No false negatives, and false positives still fail the exact
    // band equality — output identical, q120's oracle verbatim.
    "q135_delta_bloom_prune" -> ((s, d) =>
      Dedup.simhashPairsDeltaBloom(t("documents")(s, d),
        col("doc_id") % 3 === 0)),
    // Near-dup clusters: connected components over the simhash pair
    // graph (min-label propagation to a fixpoint); the oracle
    // re-derives the components with a recursive reachability CTE.
    "q82_dup_clusters" -> ((s, d) => dupClustersBuilt(s, d)),
    // Cluster-SIZE distribution over the q82 components: the
    // curation readout that sizes the dedup problem — how much of the
    // corpus sits in big near-dup families vs singletons.
    "q368_cluster_sizes" -> ((s, d) =>
      dupClustersBuilt(s, d)
        .groupBy(col("cluster_size"))
        .agg(countDistinct(col("cluster")).as("n_clusters"),
          count(lit(1)).as("n_docs"))),
    // q82's INCREMENTAL form: standing labels over the old two-thirds
    // + only the delta pairs, reconciled by incremental CC. Output is
    // required to be IDENTICAL to the full recompute, so it shares
    // q82's oracle verbatim (the q107/q68 identical-answer pattern).
    "q133_day2_clusters" -> ((s, d) =>
      Dedup.dupClustersDelta(t("documents")(s, d), id => id % 3 === 0)),
    "q83_repetition" -> ((s, d) =>
      TextOps.repetitionStats(t("documents")(s, d))),
    // N-gram novelty: the fraction of a doc's distinct shingles with
    // corpus df = 1 — no shingle-keyed join (df's min(doc_id) already
    // names the unique owner; two bounded groupBys + a doc-keyed merge).
    "q153_novelty" -> ((s, d) =>
      TextOps.noveltyScore(t("documents")(s, d))),
    // Cluster-canonical dedup: keep the highest-quality doc per
    // near-dup cluster (quality desc, doc_id tie-break on ROUNDED
    // scores, so both engines agree on the winner).
    "q85_cluster_dedup" -> ((s, d) =>
      Dedup.clusterDedup(t("documents")(s, d), dupClustersBuilt(s, d))),
    // MIS-canonical anchors (r16 — graph/Mis.scala's motivating use
    // wired to the dedup pipeline): Luby MIS over the SAME near-dup
    // edge set the q82 clusters are built from, composed with the
    // memoized cluster labels — per cluster a set of MUTUALLY
    // DISSIMILAR representatives touching every cluster (vs q85's
    // single keep-one canonical): a singleton cluster's doc wins
    // round 1 unopposed, and a non-singleton cluster's min-priority
    // active vertex always wins round 1, so every cluster holds ≥ 1
    // anchor (spec-asserted, with anchor independence).
    "q409_mis_anchors" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val edges = Dedup.simhashPairs(docs, maxHamming = 3)
        .select(col("da").as("src"), col("db").as("dst"))
      val mis = graft.graph.Mis.luby(
        docs.select(col("doc_id").as("id")), edges, rounds = 3,
        edgeShape = "canonical") // simhashPairs emits da < db once
      dupClustersBuilt(s, d).select(col("doc_id"), col("cluster"))
        .join(mis.withColumnRenamed("id", "doc_id"), "doc_id")
        .select(col("doc_id"), col("cluster"), col("state"))
    }),
    // SOFT near-dup dedup: every doc keeps with rate sqrt(size)/size
    // (√n expected survivors per cluster) — the diversity-preserving
    // alternative to q85's keep-one rule. sqrt and divide are exactly
    // rounded in IEEE, so the rate AND the verdict sit under the hash
    // gate with no rounding hedge.
    "q149_cluster_sample" -> ((s, d) =>
      graft.llm.Corpus.clusterBalancedSample(dupClustersBuilt(s, d), "cbs")),
    // Gopher-style quality gate: rule metrics + per-rule flags + keep.
    "q87_gopher_filter" -> ((s, d) =>
      TextOps.gopherFilter(t("documents")(s, d))),
    // The streaming ingest gate's exact batch semantics under the
    // oracle: gopher metrics + keep + all three content fingerprints
    // in ONE map pass (graft.stream.CorpusIngest applies this same
    // frame per micro-batch).
    "q93_ingest_gate" -> ((s, d) =>
      graft.stream.CorpusIngest.gateAndFingerprint(
        // NULL-text docs are out of the gate's oracle contract (the
        // oracle's simhash join drops them, like Dedup.simhash)
        TextOps.spread(t("documents")(s, d).where(col("text").isNotNull)))
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("stop_ratio"), col("dup_frac"), col("top_frac"), col("keep"),
          col("fp"), col("rolling_fp"), col("simhash"))),
    // PII redaction cascade (URL → email → long-number masking). The
    // fixture corpus carries no PII, so the query wiring injects
    // deterministic synthetic PII first (the q51 bad-row trick): docs
    // get an email / URL / account number appended keyed on doc_id,
    // and the oracle performs the identical injection before its own
    // regexp_replace cascade — so the redaction regexes are exercised
    // on every pattern, not vacuously green.
    "q97_pii_redact" -> ((s, d) => TextOps.redactPii(
      t("documents")(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 7 === 0, concat(lit(" mail user"),
            col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, concat(lit(" ref https://ex.org/d/"),
            col("doc_id").cast("string"), lit("?s=1")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, concat(lit(" acct 900"),
            lpad(col("doc_id").cast("string"), 6, "0")))
            .otherwise(lit(""))).as("text")))),
    // Paragraph-level exact dedup (RefinedWeb span removal): fixed
    // 20-token segments, global first-occurrence claim on the md5
    // digest, ordered reassembly. Near-dup docs share exact segments,
    // so the pass does real removal on the fixture.
    "q98_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedup(t("documents")(s, d))),
    // Text canonicalization (NFC + control strip + whitespace
    // collapse). The ASCII fixture is NFC-invariant, so the query
    // wiring injects deterministic decomposed/composed/control/
    // whitespace tails keyed on doc_id (the q97 injection trick), and
    // the oracle performs the identical injection before DuckDB's own
    // nfc_normalize + RE2 cascade — every rule is exercised, not
    // vacuously green.
    // NFKC + case-fold tokenizer-input normalization (the q110
    // injection trick for the compatibility axis): the ASCII fixture
    // is NFKC-invariant, so deterministic ligature/fullwidth/
    // superscript/roman-numeral/angstrom/NBSP/uppercase tails keyed on
    // doc_id exercise every folding class; DuckDB has no NFKC, so the
    // oracle injects the PRE-FOLDED literals — the expected output is
    // known at plan time precisely because the injection is.
    "q327_nfkc_fold" -> ((s, d) => TextOps.nfkcFold(
      t("documents")(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          col("text"),
          // fi-ligature + fullwidth TEST \u2192 " file test"
          when(col("doc_id") % 4 === 0,
            lit(" \uFB01le \uFF34\uFF25\uFF33\uFF34"))
            .otherwise(lit("")),
          // superscript 2/3 + micro sign \u2192 " 23 \u03BCm"
          when(col("doc_id") % 4 === 1,
            lit(" \u00B2\u00B3 \u00B5m"))
            .otherwise(lit("")),
          // roman XII + ff-ligature + roman IX \u2192 " xiiffix"
          when(col("doc_id") % 4 === 2,
            lit(" \u216B\uFB00\u2168"))
            .otherwise(lit("")),
          // angstrom sign + NBSP + uppercase \u2192 " \u00E5 units"
          when(col("doc_id") % 5 === 0,
            lit(" \u212B\u00A0UNITS"))
            .otherwise(lit("")),
          // plain ASCII case fold \u2192 " mixedcase"
          when(col("doc_id") % 7 === 0, lit(" MixedCASE"))
            .otherwise(lit(""))).as("text")))),

    "q110_text_canon" -> ((s, d) => TextOps.canonicalize(
      t("documents")(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 4 === 0, lit(" cafe\u0301 mix"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 1, lit(" caf\u00e9 mix"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 2, lit(" A\u030Aring"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" ctl\u0007x\u001Fy"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("  wide   run\t tail "))
            .otherwise(lit(""))).as("text")))),
    "q67_tfidf_top3" -> ((s, d) => TextOps.tfidfTopK(t("documents")(s, d))),
    // Self-scored bigram LM quality (the deterministic perplexity
    // filter): mean ln P(w_i | w_{i-1}) under the corpus's own bigram
    // distribution — no external LM, no smoothing, exact.
    "q124_lm_score" -> ((s, d) => TextOps.lmScore(t("documents")(s, d))),
    // Kneser–Ney–smoothed bigram LM score — q124's production
    // upgrade: interpolated KN with D = 0.75 (exact in binary),
    // continuation probabilities from distinct bigram types.
    "q248_lm_score_kn" -> ((s, d) =>
      TextOps.lmScoreKn(t("documents")(s, d))),
    // Kneser–Ney-smoothed TRIGRAM LM score — the order-3 model the
    // CCNet-class perplexity filter actually runs: discounted raw
    // trigram counts backing off to continuation-count bigrams and a
    // type-frequency unigram floor.
    "q294_lm_score_kn3" -> ((s, d) =>
      TextOps.lmScoreKn3(t("documents")(s, d))),
    // Per-language top-5 trigrams by occurrence (df alongside): the
    // boilerplate-mining pass that feeds the viral caps with data.
    "q125_top_ngrams" -> ((s, d) => TextOps.topNgrams(t("documents")(s, d))),
    // KMV distinct-cardinality profile: per-language distinct-source
    // and distinct-trigram counts estimated from the mergeable
    // bottom-k sketch — the count(DISTINCT) replacement whose
    // per-group cost is O(k) with map-side combine instead of a
    // shuffle of every distinct value. Deterministic md5 sampling
    // means even the ESTIMATES carry a full hash-gate oracle. k=16
    // over ~20 sources exercises the estimation branch; smaller
    // per-language source sets cross the exact-below-k branch.
    // Per-language quality-percentile gate (CCNet-style "keep the
    // best half of each language"): threshold = the (1−keep) quantile
    // of q62's quality from the bottom-k sketch — one scan + a
    // broadcast-joined filter, no per-language sort. k=200 spans both
    // branches across SFs: exact percentile below 200 docs/lang,
    // sketch estimate above.
    // Quality-curriculum ordering: per-language tercile phases from
    // the SAME bottom-k sketch + floor-index rule as q128, plus the
    // md5 within-phase shuffle key — the annealing schedule (best data
    // last) as deterministic sort keys, no global sort materialized.
    "q151_curriculum" -> ((s, d) =>
      graft.llm.Corpus.curriculumOrder(t("documents")(s, d))),
    "q128_quality_gate" -> ((s, d) =>
      graft.llm.Corpus.qualityGate(t("documents")(s, d))),
    // Deterministic A-ES weighted sampling: top-50 per language by
    // ln(u)/quality — inclusion ∝ quality, exact output size, and the
    // md5-hash u makes even the random draw oracle-checkable.
    "q130_weighted_sample" -> ((s, d) =>
      graft.llm.Corpus.weightedSample(t("documents")(s, d))),
    // Systematic PPS sampling (Madow 1949, r15): k = 50 selection
    // points march the cumulative n_chars line — deterministic hit
    // counts exactly proportional to size up to rounding, Σ hits = k,
    // heavy docs drawn with multiplicity; exact-integer ceil-division
    // off the two-level global scan, zero randomness.
    "q401_pps_sample" -> ((s, d) =>
      graft.llm.Corpus.ppsSystematic(t("documents")(s, d), "n_chars")),
    // Count-min-as-a-DataFrame: trigram occurrences pressed into a
    // fixed 4×64 coordinate grid (≤ d·w rows regardless of key
    // cardinality), then the exact top-20 grams probed back — output
    // carries exact count AND the CM upper bound, both oracle-gated.
    "q132_cms_counts" -> ((s, d) => {
      import graft.functions.CountMinFrame
      val grams = TextOps.spread(
          t("documents")(s, d).where(col("text").isNotNull))
        .select(explode(TextOps.shingleMultiset(
          TextOps.tokens(col("text")), 3)).as("gram"))
      val cm = CountMinFrame.sketch(grams, col("gram"), lit(1L))
      val top = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20)
      CountMinFrame.estimate(top, col("gram"), cm)
        .select(col("gram"), col("cnt"), col("cm_est"))
    }),
    // Day-2 count-min REGISTER maintenance (the q220 HLL pattern for
    // CM): the standing corpus' cells union the batch's cells and
    // re-sum — per-cell sums commute, so the merged state answers
    // every probe IDENTICALLY to the one-pass sketch (q132's oracle
    // shared verbatim). The day-2 cost is the batch scan + a ≤ d·w-row
    // state merge; the standing corpus is never rescanned.
    "q249_cms_day2" -> ((s, d) => {
      import graft.functions.CountMinFrame
      val g = TextOps.spread(
          t("documents")(s, d).where(col("text").isNotNull))
        .select(col("doc_id"), explode(TextOps.shingleMultiset(
          TextOps.tokens(col("text")), 3)).as("gram"))
      val old = CountMinFrame.sketch(
        g.where(col("doc_id") % 3 =!= 0), col("gram"), lit(1L))
      val batch = CountMinFrame.sketch(
        g.where(col("doc_id") % 3 === 0), col("gram"), lit(1L))
      val merged = old.unionByName(batch)
        .groupBy(col("cm_row"), col("cm_bucket"))
        .agg(sum(col("cm_count")).as("cm_count"))
      val top = g.groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20)
      CountMinFrame.estimate(top, col("gram"), merged)
        .select(col("gram"), col("cnt"), col("cm_est"))
    }),
    // Bloom-filter-as-a-DataFrame: the new batch's top-200 trigrams
    // probed against a filter built over the standing corpus' trigram
    // set — output carries the exact membership answer AND the
    // filter's verdict; the bloom's false positives are
    // md5-deterministic, so even they sit under the hash gate.
    "q134_bloom_membership" -> ((s, d) => {
      import graft.functions.BloomFrame
      val g = TextOps.spread(t("documents")(s, d))
        .select(col("doc_id"),
          explode(TextOps.shingleSet(TextOps.tokens(col("text")), 3))
            .as("gram"))
      val corpus = g.where(col("doc_id") % 3 =!= 0).select("gram").distinct()
      val probes = g.where(col("doc_id") % 3 === 0)
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(200)
      val bloom = BloomFrame.build(corpus, col("gram"), bloomM)
      BloomFrame.mayContain(probes, col("gram"), bloom, bloomM)
        .join(corpus.select(col("gram"), lit(1).as("present")),
          Seq("gram"), "left")
        .select(col("gram"), col("cnt"),
          coalesce(col("present"), lit(0)).as("present"),
          col("bf_maybe").cast("int").as("bf_maybe"))
    }),
    "q127_kmv_distinct" -> ((s, d) => {
      val base = TextOps.spread(t("documents")(s, d))
      val perLang = base.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        round(graft.functions.BottomKByHash.kmvDistinct(col("source"), 16), 4)
          .cast("float").as("est_sources"))
      val sh = base.select(col("lang"),
        explode(TextOps.shingleSet(TextOps.tokens(col("text")), 3)).as("s"))
      val shAgg = sh.groupBy(col("lang")).agg(
        round(graft.functions.BottomKByHash.kmvDistinct(col("s"), 128), 4)
          .cast("float").as("est_shingles"))
      perLang.join(shAgg, Seq("lang"))
    }),
    // Slice-vs-slice shingle overlap from MERGED KMV sketches: the
    // majority slice vs the doc_id%3 carve-out, per language — union,
    // intersection, Jaccard, and union-cardinality estimates all from
    // two bottom-128 samples and array math; the slices never meet in
    // a shuffle (no distinct-shingle join anywhere).
    "q150_kmv_overlap" -> ((s, d) => {
      val docs = t("documents")(s, d)
      graft.llm.Corpus.kmvOverlap(docs.where(col("doc_id") % 3 =!= 0),
        docs.where(col("doc_id") % 3 === 0))
    }),
    "q68_ann_cosine" -> ((s, d) =>
      Similarity.bruteForceTopK(t("embeddings")(s, d), col("vec_id") < 10)),
    // The SESSION-EXTENSION path end-to-end: a session built with
    // spark.sql.extensions=graft.functions.GraftExtensions (over the
    // same SparkContext) and the kernelRewrite flag on, running q68's
    // ANN query written as the declarative aggregate(zip_with(...))
    // HOF fold. The query REQUIRES the optimized plan to carry the
    // rewritten dot_product kernel — a green row proves the extension
    // injection + optimizer rule fire on a real query, not just in
    // specs. Oracle = q68's (the rewrite must be value-invisible).
    // The assertion is STRUCTURAL (expression classes in the optimized
    // plan), not a plan-string scan — a Spark plan-printing change or
    // an unrelated expression rendering "aggregate(" cannot break it.
    "q107_kernel_rewrite_ann" -> ((s, d) => {
      val s2 = extensionSession()
      s2.conf.set(graft.functions.KernelRewrite.EnabledKey, "true")
      val df = Similarity.bruteForceTopKHof(
        t("embeddings")(s2, d), col("vec_id") < 10)
      val exprs = df.queryExecution.optimizedPlan
        .collect { case n => n.expressions }.flatten
      val hasKernel = exprs.exists(_.exists {
        case _: graft.functions.DotProduct => true
        case _ => false
      })
      val hasFold = exprs.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.ArrayAggregate => true
        case _ => false
      })
      require(hasKernel, "KernelRewrite did not fire: no DotProduct " +
        s"in the optimized plan:\n${df.queryExecution.optimizedPlan}")
      require(!hasFold, "interpreted ArrayAggregate fold survived the " +
        s"rewrite:\n${df.queryExecution.optimizedPlan}")
      df
    }),
    "q69_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(t("embeddings")(s, d), col("vec_id") < 10)),
    // Multi-probe: same index, each query also probes its 1-bit-flip
    // neighbor buckets — q69's recall lever without growing the
    // indexed (100 TB) side. Full oracle: the probe set and candidate
    // join are re-derived with the same md5-parity planes.
    "q226_ann_multiprobe" -> ((s, d) =>
      Similarity.lshMultiProbeTopK(t("embeddings")(s, d),
        col("vec_id") < 10)),
    // The Lloyd quantizer q71/q139 embed, shipped as its own training
    // artifact: centroid table + per-cell population — the persisted
    // model of assignment-only production passes.
    "q246_kmeans" -> ((s, d) => {
      val (cents, assigned) = lloydBundle(s, d)
      Similarity.kmeansFrom(cents, assigned)
    }),
    // Simplified (centroid-based) silhouette over the q246 artifact
    // (Hruschka et al. 2004): the O(N·k) clustering-quality readout —
    // per point (b − a)/max(a, b) against own vs nearest-other
    // centroid, per-cell means off micro-unit integer sums.
    "q313_silhouette" -> ((s, d) => {
      val (cents, assigned) = lloydBundle(s, d)
      Similarity.silhouetteFrom(cents, assigned)
    }),
    // Distinct-n corpus diversity (Li et al. 2016): the unique-n-gram
    // ratio for n = 1..3 — the corpus-level repetitiveness readout
    // the per-doc q83 gate cannot see (a million docs sharing one
    // template pass q83 and crater distinct-3).
    "q316_distinct_ngrams" -> ((s, d) =>
      TextOps.distinctNgrams(t("documents")(s, d))),
    // Heaps'-law vocabulary growth: V vs cumulative tokens at 10
    // doc_id cutoffs + the fitted beta exponent — per-term FIRST-SEEN
    // doc id makes every cutoff a bounded conditional count (no
    // per-cut rescan); scaled-integer log-log OLS.
    "q331_heaps_law" -> ((s, d) =>
      TextOps.heapsLaw(t("documents")(s, d))),
    // Jensen–Shannon vocabulary drift between the even/odd doc_id
    // slices (the day-1/day-2 stand-in): symmetric, always finite —
    // pico-floored per-term contributions, one vocab-bounded groupBy.
    "q355_js_divergence" -> ((s, d) =>
      TextOps.jsDivergence(t("documents")(s, d),
        col("doc_id") % 2 === 1)),
    // Flesch reading ease per doc: vowel-group syllable heuristic,
    // clamped sentence count, pure map kernel beside q62's quality
    // score.
    "q356_flesch" -> ((s, d) =>
      TextOps.flesch(t("documents")(s, d))),
    // ROUGE-1/2 F over the q64 candidate pairs: clipped-multiset
    // n-gram overlap — the verification metric on top of the dedup
    // candidate machinery; quadratic confined to the prefix-filtered
    // pair set.
    "q357_rouge" -> ((s, d) => {
      val docs = t("documents")(s, d)
      TextOps.rougePairs(docs,
        Dedup.jaccardPairsPrefix(docs).select(col("da"), col("db")))
    }),
    // Zipf rank-frequency slope over the top-100 terms: TakeOrdered
    // cut (never a global sort), ranks over exactly 100 rows, the
    // same scaled-integer log-log OLS.
    "q332_zipf_slope" -> ((s, d) =>
      TextOps.zipfSlope(t("documents")(s, d))),
    // Davies–Bouldin index (1979) over the same artifact: the
    // worst-case-overlap companion — mean over clusters of the most
    // confusable pair ratio (S_i + S_j)/d(c_i, c_j).
    "q314_davies_bouldin" -> ((s, d) => {
      val (cents, assigned) = lloydBundle(s, d)
      Similarity.daviesBouldinFrom(cents, assigned)
    }),
    // Johnson–Lindenstrauss random projection: 64 → 16 dims via the
    // md5-parity ±1 plane family, 1/√16 = 0.25 exact scale — the
    // dimensionality-reduction preprocessor, a pure map.
    "q250_rp_project" -> ((s, d) =>
      Similarity.rpProject(t("embeddings")(s, d))),
    // PCA leading eigenvector by power iteration — the q170 exact-
    // integer iterative contract on a linear-algebra kernel: quantized
    // components, moment-identity covariance (exact BIGINT), sign-safe
    // magnitude down-scale, 8 rounds of C·v with deterministic-pivot
    // renormalization (two correctly-rounded casts + one IEEE divide
    // per component per round). Loadings in 1e-6 fixed point.
    "q254_pca_loadings" -> ((s, d) =>
      Pca.loadings(t("embeddings")(s, d))),
    // PC-1 score per vector: exact Σ q_j·loading_j BIGINT — the 1-D
    // slicing/curriculum axis; map-only with the loadings broadcast.
    "q255_pca_scores" -> ((s, d) =>
      Pca.scores(t("embeddings")(s, d))),
    // Day-2 PCA register maintenance: moments of a standing corpus
    // and a new batch merged by union + re-sum — loadings IDENTICAL
    // to the one-pass build (q254's oracle shared verbatim); the
    // standing corpus is never rescanned in production (here both
    // halves derive from the fixture split to prove the contract).
    "q264_pca_day2" -> ((s, d) => {
      val e = t("embeddings")(s, d)
      Pca.loadingsDay2(
        e.where(col("vec_id") % 3 =!= 0),
        e.where(col("vec_id") % 3 === 0))
    }),
    "q71_ann_ivf" -> ((s, d) => {
      val (cents, assigned) = lloydBundle(s, d)
      Similarity.ivfTopKFrom(cents, assigned, col("vec_id") < 10)
    }),
    // Product-quantization ANN: per-subspace codebooks + asymmetric
    // distance — the 4-byte-per-vector memory path. Codebook build,
    // encoding, and the fixed-order ADC fold are all deterministic,
    // so the oracle re-derives the entire index in SQL.
    "q162_ann_pq" -> ((s, d) =>
      Similarity.pqTopK(t("embeddings")(s, d), col("vec_id") < 10)),
    // BM25 sparse retrieval: every 101st doc queries the corpus with
    // its own first-6-token term set; top-10 by the exact Okapi score.
    // Postings + df are the q67 TF-IDF aggregates; the query set rides
    // a broadcast; ranking is the q125 two-phase top-k.
    "q165_bm25" -> ((s, d) => bm25Run(s, d)),
    // Query-likelihood ranking with Dirichlet-prior smoothing (Zhai
    // & Lafferty 2001): the language-modeling twin of q165 run over
    // the SAME query fixture — Zhai's decomposition confines scoring
    // to matched postings + one per-doc length term, so the plan is
    // BM25's exactly.
    "q304_ql_dirichlet" -> ((s, d) => {
      val docs = t("documents")(s, d)
      Retrieval.qlTopK(docs, Retrieval.sampleQueries(docs))
    }),
    // Ranking-quality evaluation over the q165 BM25 run: NDCG@10 with
    // integer DCG weights (round(1e6/log2(r+1)) — plan-time literals
    // shared with the oracle, so the log discount carries zero libm
    // risk), graded relevance = matched-term count, gain = 2^rel−1,
    // plus the MRR self-retrieval term (queries derive FROM docs, so
    // retrieving your own source doc is ground truth).
    "q253_retrieval_eval" -> ((s, d) =>
      Retrieval.evalRanking(bm25Run(s, d))),
    // AP/P/R@10 against an INDEPENDENT corpus-wide relevance recount
    // (docs matching >= 3 query terms): q253's NDCG/MRR grade what the
    // ranker returned; recall and AP see what it missed. AP in pure
    // integer fixed point — (1e6*c_r) div r summed, div min(R, k).
    "q330_ap_at_k" -> ((s, d) => {
      val docs = t("documents")(s, d)
      Retrieval.apAtK(bm25Run(s, d), docs,
        Retrieval.sampleQueries(docs))
    }),
    // MMR diversified re-ranking of the q165 BM25 lists: greedy
    // λ=0.7 relevance-vs-diversity picks with min–max-normalized
    // integer relevance and 3-shingle Jaccard diversity — no float
    // anywhere, every greedy round bit-exact.
    "q260_mmr" -> ((s, d) =>
      Retrieval.mmrRerank(bm25Run(s, d), t("documents")(s, d))),
    // Bigram-PMI collocations: the phrase-mining signal (tokenizer
    // merge candidates, domain-term discovery) — exact bigram counts,
    // self-consistent marginals, floor-rounded ln at the edge, total
    // (pmi desc, a, b) order.
    "q233_collocations" -> ((s, d) =>
      TextOps.collocations(t("documents")(s, d))),
    // Hybrid retrieval: the q165 sparse top-10 (self dropped
    // post-cut) fused with the dense cosine top-10 for the same
    // query docs by reciprocal rank — exact 1/(60+rank) arithmetic,
    // so even the fused ORDERING is cross-engine exact.
    "q225_rrf_hybrid" -> ((s, d) => {
      val sparse = bm25Run(s, d)
        .where(col("doc_id") =!= col("query_id"))
      val dense = Similarity.bruteForceTopK(
        t("embeddings")(s, d), col("vec_id") % 101 === 0, k = 10)
      Retrieval.rrfFuse(sparse, dense)
    }),
    // REAL WAV audio path: RIFF/PCM16 payloads round-trip the codec
    // (encode → chunk-walking decode) and reduce to exact-integer
    // frame features (energy/peak/zero-crossings) via array HOFs —
    // a pure map, zero shuffles; the id-derived synthetic samples
    // make the whole chain SQL-re-derivable.
    "q176_wav_features" -> ((s, d) =>
      Multimodal.audioFeatures(Multimodal.decodeWavFrame(
        Multimodal.syntheticWavFrame(
          t("documents")(s, d).select(col("doc_id")))))),
    // Content-defined chunking (LBFS/rsync CDC): shift-robust chunk
    // boundaries from local gram hashes + per-chunk corpus df — the
    // storage-dedup granularity beside the eight similarity families.
    "q179_cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunks(t("documents")(s, d))),
    // Day-2 CDC novelty: per new doc (id % 3 == 0, the delta-family
    // convention), the fraction of its chunks absent from the
    // standing corpus — the deduplicated-storage estimate.
    "q182_cdc_novelty" -> ((s, d) =>
      Dedup.cdcNovelty(t("documents")(s, d), id => id % 3 === 0)),
    // SemDeDup: k-means cells + within-cell cosine dedup — the oracle
    // re-derives the full Lloyd chain (shared CTE builder with q71)
    // plus the greedy lowest-id keeper rule, so the whole semantic-
    // dedup verdict sits under the hash gate.
    "q139_semdedup" -> ((s, d) =>
      Similarity.semDedupFrom(lloydBundle(s, d)._2)),
    // Hard-negative mining: top-k nearest with a DIFFERENT label —
    // q68's brute-force shape with the exclusion predicate in the join.
    "q141_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(t("embeddings")(s, d), col("vec_id") < 10)),
    // Character-entropy quality signal (histogram form; per-char rows
    // map-side-combine to distinct-char rows before the shuffle).
    "q142_char_entropy" -> ((s, d) =>
      TextOps.charEntropy(t("documents")(s, d))),
    // Containment dedup: Broder's directed |A∩B|/|A| over shingle
    // sets — the small-doc-inside-big-doc detector resemblance misses;
    // capped inverted index (the winnowing maxDf discipline).
    "q146_containment" -> ((s, d) =>
      Dedup.containmentPairs(t("documents")(s, d))),
    // Its delta-matrix member: old×old pruned inside the candidate
    // join, world-global df cap — output = q146 filtered.
    "q147_containment_delta" -> ((s, d) =>
      Dedup.containmentPairsDelta(t("documents")(s, d),
        col("doc_id") % 3 === 0)),
    // q147 through the bloom gate over shingles — the last delta
    // family member gated; identical output, q147's oracle verbatim.
    "q156_containment_delta_bloom" -> ((s, d) =>
      Dedup.containmentPairsDeltaBloom(t("documents")(s, d),
        col("doc_id") % 3 === 0)),
    // BPE tokenizer training: the rank-ordered merge table (q143) and
    // the post-merge vocabulary segmentations (q144) — integer counts
    // + binary string tiebreaks only, so the whole training loop sits
    // under the hash gate with no float edge anywhere.
    "q143_bpe_merges" -> ((s, d) =>
      graft.llm.Bpe.bpeTrain(t("documents")(s, d))),
    "q144_bpe_vocab" -> ((s, d) =>
      graft.llm.Bpe.bpeVocab(t("documents")(s, d))),
    // The encode side: per-doc token counts under the corpus-trained
    // vocabulary (each word charged its post-merge symbol count).
    "q145_bpe_encode" -> ((s, d) =>
      graft.llm.Bpe.bpeEncode(t("documents")(s, d))),
    // WordPiece-style training (likelihood-scored merges): the same
    // loop as q143 but the round winner maximizes the PMI objective
    // ln cnt(pair) − ln cnt(lhs) − ln cnt(rhs) as a scaled-ln integer
    // — the third tokenizer-training family, merge table + vocab.
    "q262_wp_merges" -> ((s, d) =>
      graft.llm.Bpe.wordPieceState(t("documents")(s, d), 8)._1),
    "q263_wp_vocab" -> ((s, d) =>
      graft.llm.Bpe.wordPieceState(t("documents")(s, d), 8)._2),
    // Int8-quantized ANN (the memory scale path): ranking runs on
    // exact integer dots of QuantizeI8 codes, so the oracle re-derives
    // the byte codes in SQL and the whole quantized pipeline sits
    // under the hash gate. Recall vs the exact q68 answer is pinned
    // separately in LlmSpec.
    "q101_ann_quantized" -> ((s, d) =>
      Similarity.quantizedTopK(t("embeddings")(s, d), col("vec_id") < 10)),
    // Embedding near-dup clusters: CC over the q90 LSH pair graph —
    // the q82 composition in embedding space. The oracle clusters the
    // SAME SQL-derived pair set, so equality holds regardless of
    // recall.
    "q102_embedding_clusters" -> ((s, d) =>
      Similarity.embeddingClusters(t("embeddings")(s, d))),
    // Embedding-space near-dup: the exact threshold-pair set is the
    // registered/oracled operator; the LSH-bucketed scale variant
    // (cosineDupsLsh) is subset+recall-verified in LlmSpec.
    "q72_cosine_dups" -> ((s, d) =>
      Similarity.cosineDups(t("embeddings")(s, d), 0.4)),
    // The SCALE path for q72: candidates only from shared LSH buckets
    // (md5-parity planes → the oracle re-derives the exact bucket set,
    // so this is hash-gate-checked end-to-end like q69, not rows-only).
    // Output ⊆ q72's exact pair set; recall pinned in LlmSpec.
    "q90_cosine_dups_lsh" -> ((s, d) =>
      Similarity.cosineDupsLsh(t("embeddings")(s, d), 0.4)),
    "q73_rolling_fp" -> ((s, d) => t("documents")(s, d)
      .select(col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("rolling_fp"))),
    // Frame sampling: every 2nd 64-byte window of the payload as its
    // own row — the sampling arithmetic and per-frame byte lengths are
    // fully oracle-derivable; frame CONTENT is pinned in LlmSpec.
    "q88_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        t("documents")(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        frameBytes = 64, everyN = 2)
        .select(col("doc_id"), col("n_frames"), col("frame_id"),
          col("frame_bytes"))),
    // Resize over RAW (non-image) payloads: text bytes take the 1-D
    // byte-stride path; the oracle re-derives the stride arithmetic
    // from byte lengths.
    "q89_resize" -> ((s, d) =>
      Multimodal.resizePayloads(
        t("documents")(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        maxBytes = 100)
        .select(col("doc_id"),
          octet_length(col("payload")).as("orig_bytes"),
          col("resized_bytes"))),
    // The REAL image codec end-to-end: deterministic synthetic P6
    // payloads (dims + pixel bytes derived from doc_id) are encoded,
    // decoded, 2-D stride-resampled to a byte budget, re-encoded, and
    // decoded again — dims, encoded size, and the resized pixel
    // checksum all re-derived arithmetically by the oracle, so actual
    // pixel work (not just length bookkeeping) sits under the hash
    // gate.
    "q123_ppm_resize" -> ((s, d) => {
      val ppm = Multimodal.syntheticPpmFrame(
        t("documents")(s, d).select(col("doc_id")))
      val dec = Multimodal.decodePayloads(ppm)
      val res = Multimodal.resizePayloads(dec, maxBytes = 64)
      Multimodal.decodePayloads(
        res.select(col("doc_id"), col("width").as("orig_w"),
          col("height").as("orig_h"), col("resized_bytes"),
          col("resized").as("payload")))
        .select(col("doc_id"), col("orig_w"), col("orig_h"),
          col("width").as("res_w"), col("height").as("res_h"),
          col("resized_bytes"), col("pix_sum"))
    }),
    "q70_multimodal" -> ((s, d) =>
      Multimodal.multimodalFrame(t("documents")(s, d), t("embeddings")(s, d))
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.source").as("source"), col("meta.n_chars").as("n_chars"),
          octet_length(col("payload")).as("byte_len"),
          ascii(col("text")).as("head_code"),
          size(col("embedding")).as("dim"),
          // native fused dot product — same left-to-right sum order as
          // the interpreted aggregate(zip_with) fold it replaced
          round(sqrt(graft.functions.DotProduct(
            col("embedding").cast("array<double>"),
            col("embedding").cast("array<double>"))), 4)
            .as("emb_norm"),
          col("label"))))

  /** Shared oracle CTEs: the md5-parity LSH cosine pair derivation
    * (planes → sign-bit buckets → OR-construction candidates → exact
    * cosine in `p2`) — q90 thresholds it, q102 clusters over it.
    * Every CTE a recursive CTE references must be MATERIALIZED
    * (see the q82 oracle note).
    */
  private val cosineLshCtes =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |pj AS MATERIALIZED (
       |  SELECT p, j,
       |         CASE WHEN (strpos('0123456789abcdef',
       |                substr(md5(p || ':' || j), 1, 1)) - 1) % 2 = 0
       |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
       |         END AS sgn
       |  FROM range(${Similarity.numTables * Similarity.bitsPerTable}) t1(p),
       |       range(${Similarity.defaultDim}) t2(j)),
       |planes AS MATERIALIZED (
       |  SELECT p, list(sgn ORDER BY j) AS pl FROM pj GROUP BY p),
       |dots AS MATERIALIZED (
       |  SELECT vec_id, p, list_dot_product(v, pl) AS d FROM n, planes),
       |buckets AS MATERIALIZED (
       |  SELECT vec_id, p // ${Similarity.bitsPerTable} AS tbl,
       |         sum(CASE WHEN d > 0
       |                  THEN 1 << (p % ${Similarity.bitsPerTable})
       |                  ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id),
       |p2 AS MATERIALIZED (
       |  SELECT c.va, c.vb,
       |         round(list_dot_product(a.v, b.v)
       |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cos
       |  FROM cand c JOIN n a ON a.vec_id = c.va
       |              JOIN n b ON b.vec_id = c.vb)""".stripMargin

  /** Shared oracle CTE: whitespace tokens per document. */
  private val tokCte =
    """tok AS (SELECT doc_id, text,
      |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents)"""
      .stripMargin

  /** The BPE training loop unrolled as CTEs (q143/q144): `w1` is the
    * word-frequency + symbol-string init, then per round r the pair
    * count `p{r}`, the argmax `b{r}` (rank, lhs, rhs, cnt), and the
    * merged table `w{r+1}`. Ends WITHOUT a final SELECT so both the
    * merge-table and vocab oracles splice their own.
    */
  private def bpeChain(nMerges: Int): String = {
    def round(r: Int): String =
      s"""p$r AS (
         |  SELECT lhs, rhs, sum(freq) AS cnt FROM (
         |    SELECT freq, s[CAST(i AS INT) + 1] AS lhs,
         |           s[CAST(i AS INT) + 2] AS rhs
         |    FROM (SELECT freq, s, unnest(range(len(s) - 1)) AS i
         |          FROM (SELECT freq, string_split(trim(sym), ' ') AS s
         |                FROM w$r)))
         |  GROUP BY 1, 2),
         |b$r AS (
         |  SELECT CAST($r AS INTEGER) AS rank, lhs, rhs, cnt
         |  FROM p$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w${r + 1} AS (
         |  SELECT word, freq,
         |         replace(sym, ' ' || lhs || ' ' || rhs || ' ',
         |                 ' ' || lhs || rhs || ' ') AS sym
         |  FROM w$r, b$r)""".stripMargin
    s"""WITH d AS (
       |  SELECT text FROM documents
       |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
       |tk AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM d),
       |w1 AS (
       |  SELECT word, count(*) AS freq,
       |         ' ' || array_to_string(list_transform(range(length(word)),
       |                 i -> substr(word, CAST(i AS INT) + 1, 1)), ' ')
       |           || ' </w> ' AS sym
       |  FROM tk GROUP BY 1),
       |${(1 to nMerges).map(round).mkString(",\n")}"""
      .stripMargin
  }

  /** q254/q264 shared oracle: the power iteration replayed in full —
    * q264's day-2 moment merge shares it verbatim (exact long sums
    * commute, so merged moments == one-pass moments). */
  private lazy val pcaLoadingsOracle: String =
    s"""WITH ${graft.llm.Pca.oracleQuantCte},
       |${graft.llm.Pca.oracleCte(Similarity.defaultDim, 8)}
       |SELECT CAST(j AS INTEGER) AS pos, v AS loading_fp
       |FROM v8""".stripMargin

  /** The WordPiece training loop unrolled as CTEs (q262/q263): the
    * [[bpeChain]] structure with a per-round symbol-unigram count CTE
    * and the likelihood argmax — scaled-ln integer scores, every
    * DuckDB sum CAST to BIGINT before its single DOUBLE conversion.
    */
  private def wpChain(nMerges: Int): String = {
    def round(r: Int): String =
      s"""p$r AS MATERIALIZED (
         |  SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, s[CAST(i AS INT) + 1] AS lhs,
         |           s[CAST(i AS INT) + 2] AS rhs
         |    FROM (SELECT freq, s, unnest(range(len(s) - 1)) AS i
         |          FROM (SELECT freq, string_split(trim(sym), ' ') AS s
         |                FROM w$r)))
         |  GROUP BY 1, 2),
         |sc$r AS MATERIALIZED (
         |  SELECT s, CAST(sum(freq) AS BIGINT) AS c FROM (
         |    SELECT freq, unnest(string_split(trim(sym), ' ')) AS s
         |    FROM w$r)
         |  GROUP BY 1),
         |b$r AS MATERIALIZED (
         |  SELECT CAST($r AS INTEGER) AS rank, p.lhs, p.rhs, p.cnt,
         |         CAST(floor((ln(CAST(p.cnt AS DOUBLE))
         |             - ln(CAST(a.c AS DOUBLE))
         |             - ln(CAST(b.c AS DOUBLE))) * 1e6) AS BIGINT)
         |           AS score_fp
         |  FROM p$r p JOIN sc$r a ON a.s = p.lhs
         |  JOIN sc$r b ON b.s = p.rhs
         |  ORDER BY score_fp DESC, p.lhs, p.rhs LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT word, freq,
         |         replace(sym, ' ' || lhs || ' ' || rhs || ' ',
         |                 ' ' || lhs || rhs || ' ') AS sym
         |  FROM w$r, b$r)""".stripMargin
    s"""WITH d AS (
       |  SELECT text FROM documents
       |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
       |tk AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM d),
       |w1 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq,
       |         ' ' || array_to_string(list_transform(range(length(word)),
       |                 i -> substr(word, CAST(i AS INT) + 1, 1)), ' ')
       |           || ' </w> ' AS sym
       |  FROM tk GROUP BY 1),
       |${(1 to nMerges).map(round).mkString(",\n")}"""
      .stripMargin
  }

  /** The unigram-LM training run unrolled as CTEs (q238/q239,
    * registered parameters: maxPieceLen=4, seedSize=60, emIters=2,
    * vocabSize=40, maxWordLen=8). Where the engine runs the
    * bounded-state Viterbi DP, the oracle brute-ENUMERATES every
    * segmentation (recursive CTE over vocab-matching pieces) and takes
    * one global argmin under the same total order (−score, n_pieces,
    * piece array) — an independent formulation whose equivalence is
    * the extension-monotonicity argument in [[graft.llm.Unigram]]'s
    * doc. Scores are scaled-ln integers; every sum is CAST to BIGINT
    * before its single DOUBLE conversion (the HUGEINT two-step trap).
    * Ends at `pruned` (+ the final-pass CTEs when `withFinal`).
    */
  private def unigramChain(withFinal: Boolean): String = {
    // scores over vocab v$i → s$i; enumeration under s$i → seg/best;
    // M-step counts + char floor → v${i+1}
    def score(i: Int): String =
      s"""s$i AS MATERIALIZED (
         |  SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE)
         |    / CAST((SELECT CAST(sum(cnt) AS BIGINT) FROM v$i) AS DOUBLE))
         |    * 1e6) AS BIGINT) AS score
         |  FROM v$i)""".stripMargin
    def estep(i: Int): String =
      s"""seg$i(word, freq, pos, ns, np, pieces) AS (
         |  SELECT word, freq, 0, CAST(0 AS BIGINT), 0,
         |         CAST([] AS VARCHAR[])
         |  FROM wt
         |  UNION ALL
         |  SELECT g.word, g.freq, g.pos + length(v.piece),
         |         g.ns - v.score, g.np + 1, list_append(g.pieces, v.piece)
         |  FROM seg$i g JOIN s$i v
         |    ON g.pos < length(g.word)
         |   AND substr(g.word, g.pos + 1, length(v.piece)) = v.piece),
         |best$i AS MATERIALIZED (
         |  SELECT word,
         |         min(struct_pack(ns := ns, np := np, pieces := pieces,
         |                         freq := freq)) AS b
         |  FROM seg$i WHERE pos = length(word) GROUP BY 1)""".stripMargin
    def mstep(i: Int): String =
      s"""c$i AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT unnest((b).pieces) AS piece, (b).freq AS freq
         |    FROM best$i)
         |  GROUP BY 1),
         |v${i + 1} AS MATERIALIZED (
         |  SELECT piece, cnt FROM c$i
         |  UNION ALL
         |  SELECT ch.piece, CAST(1 AS BIGINT) FROM chars ch
         |  WHERE ch.piece NOT IN (SELECT piece FROM c$i))""".stripMargin
    val base =
      s"""WITH RECURSIVE d AS (
         |  SELECT text FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |tk AS (
         |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
         |  FROM d),
         |wt AS MATERIALIZED (
         |  SELECT word, count(*) AS freq FROM tk
         |  WHERE length(word) BETWEEN 1 AND 8 GROUP BY 1),
         |si AS (SELECT word, freq,
         |         CAST(unnest(range(1, length(word) + 1)) AS INTEGER) AS i
         |       FROM wt),
         |sl AS (SELECT word, freq, i,
         |         CAST(unnest(range(1,
         |           least(4, length(word) - i + 1) + 1)) AS INTEGER) AS l
         |       FROM si),
         |sub AS MATERIALIZED (SELECT substr(word, i, l) AS piece,
         |          CAST(sum(freq) AS BIGINT) AS cnt
         |        FROM sl GROUP BY 1),
         |chars AS MATERIALIZED (SELECT piece FROM sub WHERE length(piece) = 1),
         |v1 AS MATERIALIZED (
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |           row_number() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM sub WHERE length(piece) > 1) WHERE rn <= 60
         |  UNION ALL
         |  SELECT piece, cnt FROM sub WHERE length(piece) = 1),
         |${score(1)},
         |${estep(1)},
         |${mstep(1)},
         |${score(2)},
         |${estep(2)},
         |${mstep(2)},
         |pruned AS MATERIALIZED (
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |           row_number() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM v3 WHERE length(piece) > 1) WHERE rn <= 40
         |  UNION ALL
         |  SELECT piece, cnt FROM v3 WHERE length(piece) = 1)""".stripMargin
    if (!withFinal) base
    else base + ",\n" +
      s"""vf AS MATERIALIZED (SELECT piece, cnt FROM pruned),
         |${score(0).replace("v0", "vf").replace("s0", "sf")},
         |${estep(0).replace("s0", "sf").replace("seg0", "segf")
             .replace("best0", "bestf")}""".stripMargin
  }

  /** q134's filter width: 2^18 bits — ~0.6 bits/key load at the sf0.01
    * corpus trigram cardinality (fp ≈ 4%), saturating toward high fp
    * at sf0.1; both regimes are md5-deterministic and oracle-gated.
    */
  private val bloomM = 1L << 18

  /** Shared oracle CTEs: distinct 3-word shingles + set sizes. */
  private val shingleCtes =
    s"""$tokCte,
       |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM idx WHERE i + 2 <= len(w)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)"""
      .stripMargin

  /** q146/q147 shared derivation — df cap, capped intersections, both
    * directed containment ratios, either-direction verdict.
    */
  private def containmentOracle(extraWhere: String = ""): String =
    s"""WITH $shingleCtes,
       |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |capped AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s)
       |           WHERE df <= 64),
       |common AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |  FROM capped a JOIN capped b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, CAST(common AS INTEGER) AS common,
       |       CAST(sa.n_sh AS INTEGER) AS na,
       |       CAST(sb.n_sh AS INTEGER) AS nb,
       |       round(CAST(common AS DOUBLE) / sa.n_sh, 4) AS cont_ab,
       |       round(CAST(common AS DOUBLE) / sb.n_sh, 4) AS cont_ba
       |FROM common
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE greatest(round(CAST(common AS DOUBLE) / sa.n_sh, 4),
       |               round(CAST(common AS DOUBLE) / sb.n_sh, 4))
       |      >= 0.5$extraWhere""".stripMargin

  private def jaccardOracle(threshold: Double, extraWhere: String = ""): String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT da, db, round(CAST(common AS DOUBLE) /
       |           (x.n_sh + y.n_sh - common), 4) AS jaccard
       |  FROM pairs JOIN sizes x ON da = x.doc_id
       |             JOIN sizes y ON db = y.doc_id)
       |SELECT da, db, jaccard FROM j
       |WHERE jaccard >= $threshold$extraWhere""".stripMargin

  /** The banded-MinHash candidate set re-derived exactly: per-shingle
    * md5 words → 64 affine min-hash aggregates → 32 two-row band keys →
    * pairs agreeing on ≥ 1 band → exact Jaccard on the candidates.
    */
  private def minhashLshOracle(threshold: Double): String = {
    val bandConds = (0 until Dedup.numBands).map { bnd =>
      s"(a.h${2 * bnd} = b.h${2 * bnd} AND a.h${2 * bnd + 1} = b.h${2 * bnd + 1})"
    }.mkString("\n     OR ")
    s"""WITH $shingleCtes,
       |hx AS (SELECT doc_id,
       |         ${OracleSql.md5Word32("m", 0)} AS x1,
       |         ${OracleSql.md5Word32("m", 8)} AS x2
       |       FROM (SELECT doc_id, md5(s) AS m FROM sh)),
       |sig AS (SELECT doc_id,
       |    ${OracleSql.minhashSigCols(Dedup.numHashes)}
       |  FROM hx GROUP BY doc_id),
       |cand AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |    AND ($bandConds)),
       |jv AS (
       |  SELECT da, db, count(*) AS common
       |  FROM cand JOIN sh x ON x.doc_id = da
       |            JOIN sh y ON y.doc_id = db AND y.s = x.s
       |  GROUP BY 1, 2)
       |SELECT da, db, jaccard FROM (
       |  SELECT da, db, round(CAST(common AS DOUBLE) /
       |           (p.n_sh + q.n_sh - common), 4) AS jaccard
       |  FROM jv JOIN sizes p ON da = p.doc_id
       |          JOIN sizes q ON db = q.doc_id)
       |WHERE jaccard >= $threshold""".stripMargin
  }

  private val simhashCols = OracleSql.simhashCols
  private val simhashConcat = OracleSql.simhashConcat

  /** Shared oracle CTEs at any fingerprint width: per-doc simhash
    * fingerprints + all-pairs Hamming distances (q74/q119 pair lists,
    * q82 cluster edges, q96/q120 delta filters).
    */
  private def simhashPairCtesN(bits: Int): String =
    s"""t2 AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS h FROM t2),
       |c AS (SELECT doc_id,
       |    ${OracleSql.simhashColsN(bits)}
       |  FROM h GROUP BY doc_id),
       |f AS (SELECT doc_id, ${OracleSql.simhashConcatN(bits)} AS simhash FROM c),
       |p AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         CAST(list_sum(list_transform(range(1, ${bits + 1}),
       |           i -> CASE WHEN substr(a.simhash, CAST(i AS INT), 1)
       |                       <> substr(b.simhash, CAST(i AS INT), 1)
       |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
       |  FROM f a JOIN f b ON a.doc_id < b.doc_id)""".stripMargin

  private lazy val simhashPairCtes = simhashPairCtesN(Dedup.simhashBits)

  /** Recursive-reachability cluster derivation — shared by q82 (full
    * recompute) and q133 (incremental engine path, same required
    * answer).
    */
  private lazy val dupClustersOracle: String =
    s"""WITH RECURSIVE $simhashPairCtes,
       |prs AS MATERIALIZED (SELECT da, db FROM p WHERE hamming <= 3),
       |edges AS MATERIALIZED (
       |  SELECT da AS src, db AS dst FROM prs
       |  UNION ALL
       |  SELECT db AS src, da AS dst FROM prs),
       |reach AS (
       |  SELECT doc_id AS v, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.dst AS v, re.r AS r
       |  FROM reach re JOIN edges e ON e.src = re.v),
       |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
       |cs AS (SELECT cluster, CAST(count(*) AS INTEGER) AS cluster_size
       |       FROM cc GROUP BY 1)
       |SELECT c.doc_id, c.cluster, s.cluster_size,
       |       c.doc_id = c.cluster AS is_canonical
       |FROM cc c JOIN cs s USING (cluster)""".stripMargin

  /** Shared oracle CTEs: the md5-uniform split derivation (q114's
    * formula) as `sp(doc_id, split)` — q115/q121/q122 join their pair
    * families against it.
    */
  private def splitCtes(cuts: Seq[(String, Double)], salt: String): String = {
    val bounds = graft.llm.Corpus.splitBounds(cuts)
    val cases = bounds.init.map { case (nm, ub) =>
      s"WHEN u < CAST('$ub' AS DOUBLE) THEN '$nm'"
    }.mkString(" ")
    s"""hh AS (SELECT doc_id, md5('$salt:' || CAST(doc_id AS VARCHAR)) AS m
       |       FROM documents),
       |uu AS (SELECT doc_id,
       |         CAST(${OracleSql.md5High16("m")} AS DOUBLE)
       |           / CAST(65536 AS DOUBLE) AS u
       |       FROM hh),
       |sp AS (SELECT doc_id,
       |         CASE $cases ELSE '${bounds.last._1}' END AS split
       |       FROM uu)""".stripMargin
  }

  private val defaultCuts =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** CDC chunk derivation (tok → positions → boundary rule → prior-cut
    * cumsum → ordered chunk digests in `ch`) — shared by q179 (df
    * decoration) and q182 (day-2 novelty). */
  private val cdcChunkCtes =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |pos AS (
       |  SELECT doc_id, w, CAST(unnest(range(1, len(w) + 1)) AS INTEGER)
       |           AS p
       |  FROM tok),
       |c AS (
       |  SELECT doc_id, p, w[p] AS t,
       |         CASE WHEN p >= 4 THEN
       |           (${OracleSql.md5Word32(
                     "md5(w[p-3] || ' ' || w[p-2] || ' ' || w[p-1]" +
                       " || ' ' || w[p])", 0)}) % 8 = 0
       |         ELSE FALSE END AS cut
       |  FROM pos),
       |a AS (
       |  SELECT *, CAST(coalesce(sum(CASE WHEN cut THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY p
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS INTEGER) AS chunk_idx
       |  FROM c),
       |ch AS (
       |  SELECT doc_id, chunk_idx, CAST(min(p) AS INTEGER) AS start,
       |         CAST(count(*) AS INTEGER) AS n_tokens,
       |         md5(string_agg(t, ' ' ORDER BY p)) AS dig
       |  FROM a GROUP BY 1, 2)""".stripMargin

  /** q236/q241 shared derivation: 8-token md5-48 anchors, df ≤ 64
    * stop-anchor cap, diagonal gaps-and-islands → maximal spans.
    * `tok` (doc_id, token array) is exposed for the q241 cut.
    * NB: interpolated into outer stripMargin'd strings — no line may
    * START with '|' after this val's own stripMargin, or the second
    * strip eats one bar of a '||' concat operator. */
  private def dupSpanCtesFor(pairPred: String): String =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |nn AS (SELECT doc_id, w FROM tok WHERE len(w) >= 8),
       |gi AS (SELECT doc_id, w,
       |         CAST(unnest(range(1, len(w) - 6)) AS INTEGER) AS i
       |       FROM nn),
       |g AS (SELECT doc_id, i,
       |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
       |        w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
       |        w[i+6] || ' ' || w[i+7] AS gram
       |      FROM gi),
       |h AS (SELECT doc_id, i,
       |        ${OracleSql.md5Int48("md5(gram)")} AS h
       |      FROM g),
       |keep AS (SELECT h FROM h GROUP BY h
       |         HAVING count(DISTINCT doc_id) <= 64),
       |occ AS (SELECT t.* FROM h t JOIN keep USING (h)),
       |m AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.i AS ia, b.i AS ib,
       |         a.i - b.i AS diag
       |  FROM occ a JOIN occ b
       |    ON a.h = b.h AND ($pairPred)),
       |isl AS (
       |  SELECT *, ia - row_number() OVER (
       |    PARTITION BY da, db, diag ORDER BY ia) AS grp
       |  FROM m),
       |spans AS (
       |  SELECT da AS doc_a, db AS doc_b,
       |         CAST(min(ia) AS INTEGER) AS start_a,
       |         CAST(min(ib) AS INTEGER) AS start_b,
       |         CAST(count(*) + 7 AS INTEGER) AS span_len
       |  FROM isl GROUP BY da, db, diag, grp)""".stripMargin

  private val dupSpanCtes = dupSpanCtesFor("a.doc_id < b.doc_id")

  /** q398/q399 shared derivation: 50-token grams per position (md5 of
    * the joined slice), corpus-wide occurrence count via one window
    * (QUALIFY), per-doc gaps-and-islands (gap > 50 breaks), maximal
    * spans. `tok` is exposed for the q399 rebuild. */
  private val exactSubstrCtes: String =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |gi AS (SELECT doc_id, w,
       |         CAST(unnest(range(1, len(w) - 48)) AS INTEGER) AS i
       |       FROM tok WHERE len(w) >= 50),
       |h AS (SELECT doc_id, i,
       |        md5(array_to_string(w[i:i+49], ' ')) AS h
       |      FROM gi),
       |mk AS (SELECT doc_id, i FROM h
       |       QUALIFY count(*) OVER (PARTITION BY h) > 1),
       |br AS (SELECT doc_id, i,
       |         CASE WHEN i - lag(i) OVER (
       |             PARTITION BY doc_id ORDER BY i) > 50
       |           THEN 1 ELSE 0 END AS brk
       |       FROM mk),
       |il AS (SELECT doc_id, i, sum(brk) OVER (
       |         PARTITION BY doc_id ORDER BY i) AS isl
       |       FROM br),
       |spans AS (
       |  SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
       |         CAST(max(i) + 49 AS INTEGER) AS span_end
       |  FROM il GROUP BY doc_id, isl)""".stripMargin

  /** The q398/q406 shared output projection over [[exactSubstrCtes]]
    * — one oracle, two engine formulations (md5 window vs rolling
    * kernel + semi-join), identical answers required. */
  private lazy val exactSubstrSpansSql: String =
    s"""WITH $exactSubstrCtes
       |SELECT doc_id, span_start, span_end,
       |       CAST(span_end - span_start + 1 AS INTEGER) AS n_tokens
       |FROM spans""".stripMargin

  /** q328's self-inclusive span table: cross-doc pairs plus
    * within-doc (i < j) occurrence pairs. */
  private val dupSpanSelfCtes = dupSpanCtesFor(
    "a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.i < b.i)")

  /** q389's plan-time class list (the welchT explicit-groups
    * discipline — labels outside it are filtered both engines). */
  private val nbClasses = Seq("de", "en", "es", "fr", "zh")

  private lazy val naiveBayesOracle: String = {
    val inList = nbClasses.map("'" + _ + "'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE text IS NOT NULL AND lang IN ($inList)),
       |tk AS (SELECT doc_id, lang,
       |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |       FROM d),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM tk GROUP BY 1, 2),
       |ct AS MATERIALIZED (SELECT lang AS cl, tok, count(*) AS cnt
       |       FROM tk GROUP BY 1, 2),
       |tot AS (SELECT cl, sum(cnt) AS tot FROM ct GROUP BY 1),
       |vv AS (SELECT count(DISTINCT tok) AS v FROM ct),
       |pr AS (SELECT lang AS cl, count(*) AS nd FROM d GROUP BY 1),
       |ndc AS (SELECT count(*) AS ndocs FROM d),
       |cls AS (SELECT p.cl,
       |          CAST(floor(ln(CAST(p.nd AS DOUBLE)
       |            / CAST(ndocs AS DOUBLE)) * 1e12) AS BIGINT)
       |            AS prior12,
       |          CAST(floor(ln(1.0 / CAST(t.tot + v AS DOUBLE)) * 1e12)
       |            AS BIGINT) AS unseen12
       |        FROM pr p JOIN tot t ON t.cl = p.cl, vv, ndc),
       |lp AS MATERIALIZED (SELECT c.cl, c.tok,
       |          CAST(floor(ln(CAST(c.cnt + 1 AS DOUBLE)
       |            / CAST(t.tot + v AS DOUBLE)) * 1e12) AS BIGINT)
       |            AS logp12
       |        FROM ct c JOIN tot t ON t.cl = c.cl, vv),
       |cand AS (SELECT f.doc_id, k.cl, k.prior12,
       |           CAST(f.tf * COALESCE(l.logp12, k.unseen12)
       |             AS HUGEINT) AS term12
       |         FROM tf f CROSS JOIN cls k
       |         LEFT JOIN lp l ON l.cl = k.cl AND l.tok = f.tok),
       |sc AS (SELECT doc_id, cl,
       |         CAST(max(prior12) AS HUGEINT) + sum(term12) AS score
       |       FROM cand GROUP BY 1, 2),
       |pick AS (SELECT doc_id, cl AS pred,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY score DESC, cl) AS rk
       |         FROM sc)
       |SELECT d.doc_id, d.lang, p.pred, d.lang = p.pred AS correct
       |FROM d JOIN pick p ON p.doc_id = d.doc_id AND p.rk = 1"""
      .stripMargin
  }

  /** q132/q249 shared oracle: the count-min grid and the minima
    * re-derived exactly — same 4 row salts, same md5-high-16 mod 64
    * buckets, same per-cell sums, same (cnt desc, gram) top-20 total
    * order. q249's day-2 merge shares it verbatim (per-cell sums
    * commute, so merged state == one-pass state).
    */
  private lazy val cmsOracle: String = {
    val b = OracleSql.md5High16(
      "md5(CAST(j AS VARCHAR) || ':' || gram)")
    s"""WITH $tokCte,
       |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
       |g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
       |      FROM idx WHERE i + 2 <= len(w)),
       |counts AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
       |js AS (SELECT unnest(range(4)) AS j),
       |cells AS (SELECT j, CAST(($b) % 64 AS INTEGER) AS b,
       |            sum(cnt) AS total
       |          FROM counts CROSS JOIN js GROUP BY 1, 2),
       |top AS (SELECT gram, cnt FROM counts
       |        ORDER BY cnt DESC, gram LIMIT 20)
       |SELECT t.gram, t.cnt, CAST(min(c.total) AS BIGINT) AS cm_est
       |FROM top t CROSS JOIN js
       |JOIN cells c ON c.j = js.j
       |  AND c.b = CAST((${OracleSql.md5High16(
            "md5(CAST(js.j AS VARCHAR) || ':' || t.gram)")}) % 64
            AS INTEGER)
       |GROUP BY 1, 2""".stripMargin
  }

  /** The synthetic-image decode chain (channels, noise, grayscale)
    * shared by the aHash and pHash oracles — ends at `gr(doc_id, x,
    * y, g)`. */
  private val imageGrayCtes: String =
    s"""d AS (SELECT doc_id, doc_id - doc_id % 4 AS base,
       |        CAST(doc_id % 4 AS INTEGER) AS k FROM documents),
       |px AS (SELECT doc_id, k, CAST(x AS INTEGER) AS x,
       |         CAST(y AS INTEGER) AS y,
       |         md5(CAST(base AS VARCHAR) || ':' ||
       |             CAST(x AS VARCHAR) || ':' ||
       |             CAST(y AS VARCHAR)) AS hh
       |       FROM d, range(16) tx(x), range(12) ty(y)),
       |cv AS (SELECT doc_id, k, x, y,
       |         ${OracleSql.md5IntN("hh", 1, 2)} AS v0,
       |         ${OracleSql.md5IntN("hh", 3, 2)} AS v1,
       |         ${OracleSql.md5IntN("hh", 5, 2)} AS v2
       |       FROM px),
       |nz AS (SELECT doc_id, x, y,
       |         CASE WHEN k > 0 AND (x + 3*y) % 13 = 0
       |              THEN least(255, v0 + k) ELSE v0 END AS p0,
       |         CASE WHEN k > 0 AND (x + 3*y) % 13 = 0
       |              THEN least(255, v1 + k) ELSE v1 END AS p1,
       |         CASE WHEN k > 0 AND (x + 3*y) % 13 = 0
       |              THEN least(255, v2 + k) ELSE v2 END AS p2
       |       FROM cv),
       |gr AS (SELECT doc_id, x, y, (p0 + p1 + p2) // 3 AS g FROM nz)"""
      .stripMargin

  /** q244/q245 shared derivation: the noisy synthetic image family +
    * the aHash chain replayed arithmetically — md5-nibble channels,
    * clamped sparse noise, integer grayscale, the (i·16//8, j·12//8)
    * grid, exact 64·g ≥ Σg bits. `f` = (doc_id, ahash bit string);
    * MATERIALIZED when the consumer references it twice (q245's self
    * join). NB: interpolated into outer stripMargin'd strings — no
    * line may start with '|' (the '||' concat stays at line ends).
    */
  private def imageAHashCtes(materializeF: Boolean): String = {
    val mat = if (materializeF) " MATERIALIZED" else ""
    s"""$imageGrayCtes,
       |g8 AS (SELECT c.doc_id, c.j * 8 + c.i AS kpos, g.g
       |       FROM (SELECT doc_id, CAST(i AS INTEGER) AS i,
       |               CAST(j AS INTEGER) AS j,
       |               CAST((i * 16) // 8 AS INTEGER) AS sx,
       |               CAST((j * 12) // 8 AS INTEGER) AS sy
       |             FROM d, range(8) ti(i), range(8) tj(j)) c
       |       JOIN gr g ON g.doc_id = c.doc_id AND g.x = c.sx
       |        AND g.y = c.sy),
       |tot AS (SELECT doc_id, sum(g) AS s FROM g8 GROUP BY 1),
       |bt AS (SELECT g8.doc_id, kpos,
       |         CASE WHEN 64 * g >= s THEN '1' ELSE '0' END AS b
       |       FROM g8 JOIN tot USING (doc_id)),
       |f AS$mat (
       |  SELECT doc_id, string_agg(b, '' ORDER BY kpos) AS ahash
       |  FROM bt GROUP BY 1)""".stripMargin
  }

  /** The [[graft.llm.Multimodal.pHash]] chain: the SAME fixed-point
    * DCT basis tables the engine uses, inlined as literal VALUES (no
    * libm in either engine's query path), the exact integer
    * coefficient sums, the 32nd-smallest-AC median, and the strict
    * `>` bit rule with the DC bit forced 0. */
  private def imagePHashCtes(materializeF: Boolean): String = {
    val mat = if (materializeF) " MATERIALIZED" else ""
    def rows(tab: Array[Array[Long]]): String =
      tab.zipWithIndex.flatMap { case (r, u) =>
        r.zipWithIndex.map { case (c, x) => s"($u,$x,$c)" }
      }.mkString(", ")
    s"""$imageGrayCtes,
       |cx AS (SELECT * FROM (VALUES ${rows(Multimodal.dctCosX)})
       |       t(u, x, c)),
       |cy AS (SELECT * FROM (VALUES ${rows(Multimodal.dctCosY)})
       |       t(v, y, c)),
       |coef AS MATERIALIZED (
       |  SELECT g.doc_id, cy.v * 8 + cx.u AS kpos,
       |         sum(g.g * cx.c * cy.c) AS fc
       |  FROM gr g JOIN cx ON cx.x = g.x JOIN cy ON cy.y = g.y
       |  GROUP BY 1, 2),
       |med AS (SELECT doc_id, max(fc) AS m FROM (
       |    SELECT doc_id, fc, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY fc, kpos) AS rn
       |    FROM coef WHERE kpos > 0) WHERE rn <= 32 GROUP BY 1),
       |pb AS (SELECT c.doc_id, kpos,
       |         CASE WHEN kpos > 0 AND fc > m THEN '1' ELSE '0' END
       |           AS b
       |       FROM coef c JOIN med USING (doc_id)),
       |ph AS$mat (
       |  SELECT doc_id, string_agg(b, '' ORDER BY kpos) AS phash
       |  FROM pb GROUP BY 1)""".stripMargin
  }

  /** The [[graft.llm.Multimodal.audioFingerprint]] chain over the
    * noisy synthetic WAV family: samples re-derived arithmetically,
    * exact integer frame energies, sign-of-derivative bits. */
  private def audioFpCtes(materializeF: Boolean): String = {
    val mat = if (materializeF) " MATERIALIZED" else ""
    s"""wd AS (SELECT doc_id, doc_id - doc_id % 4 AS base,
       |         CAST(doc_id % 4 AS INTEGER) AS k FROM documents),
       |sh AS (SELECT doc_id, k, CAST(i AS INTEGER) AS i,
       |         md5(CAST(base AS VARCHAR) || ':' ||
       |             CAST(i AS VARCHAR)) AS hh
       |       FROM wd, range(1040) t(i)),
       |sm AS (SELECT doc_id, k, i,
       |         ${OracleSql.md5IntN("hh", 1, 3)} % 2048 - 1024 AS v0
       |       FROM sh),
       |pv AS (SELECT doc_id, i,
       |         CASE WHEN k > 0 AND i % 11 = 0 THEN v0 + k ELSE v0 END
       |           AS v
       |       FROM sm),
       |en AS (SELECT doc_id, i // 16 AS fr, sum(v * v) AS e
       |       FROM pv GROUP BY 1, 2),
       |dfs AS (SELECT a.doc_id, a.fr AS t,
       |          CASE WHEN b.e > a.e THEN '1' ELSE '0' END AS bit
       |        FROM en a JOIN en b ON b.doc_id = a.doc_id
       |         AND b.fr = a.fr + 1
       |        WHERE a.fr < 64),
       |afr AS$mat (
       |  SELECT doc_id, string_agg(bit, '' ORDER BY t) AS afp
       |  FROM dfs GROUP BY 1)""".stripMargin
  }

  /** Shared oracle CTEs: the exact winnowing selection + stop-fp cap +
    * fingerprint pair join at the registered defaults (k=4, w=5,
    * maxDf=64) — q113 emits `wp` directly, q122 joins it with `sp`.
    * Same md5-high-32 gram hashes, same (hash, −pos) struct-min over
    * the same w-row frame (struct_pack comparison = Spark struct
    * comparison, the aroon oracle's trick), full windows only.
    */
  private val winnowPairCtes =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |n AS (SELECT doc_id, w FROM tok WHERE len(w) >= 8),
       |gi AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) - 2)) AS INTEGER)
       |         AS i FROM n),
       |g AS (SELECT doc_id, i,
       |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
       |      FROM gi),
       |h AS (SELECT doc_id, i,
       |        ${OracleSql.md5Word32("md5(gram)", 0)} AS h
       |      FROM g),
       |sel0 AS (
       |  SELECT doc_id, i,
       |    min(struct_pack(h := h, ni := -i)) OVER (PARTITION BY doc_id
       |      ORDER BY i ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel,
       |    count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM h),
       |selected AS (
       |  SELECT DISTINCT doc_id, CAST(-(sel).ni AS INTEGER) AS pos,
       |         (sel).h AS fp
       |  FROM sel0 WHERE i <= ng - 4),
       |keep AS (SELECT fp FROM selected GROUP BY fp
       |         HAVING count(DISTINCT doc_id) <= 64),
       |sk AS (SELECT s.* FROM selected s JOIN keep USING (fp)),
       |wp AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |         CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
       |  FROM sk a JOIN sk b
       |    ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private val langScoreUnion = TextOps.langMarkers.map { case (lang, ms) =>
    val cond = ms.map(m => s"x = '$m'").mkString(" OR ")
    s"""SELECT doc_id, '$lang' AS lang,
       |       len(list_filter(w, x -> $cond)) AS score FROM tok"""
      .stripMargin
  }.mkString("\nUNION ALL\n")

  /** The brute cosine CTE block, parameterized on the query-side
    * predicate so q68/q107 (vec_id < 10) and the RRF fusion
    * (vec_id % 101 = 0) share one derivation; ends in `dense`
    * carrying the per-query rank. */
  private def annCosineCtes(pred: String): String =
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nrm AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |p AS (
       |  SELECT qv.vec_id AS qid, x.vec_id AS neighbor_id,
       |         round(list_dot_product(qv.v, x.v)
       |               / (sqrt(qv.n2) * sqrt(x.n2)), 4) AS cos
       |  FROM nrm qv JOIN nrm x ON ($pred) AND x.vec_id <> qv.vec_id),
       |dense AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, neighbor_id) AS rank FROM p)""".stripMargin

  /** Exact brute-force ANN oracle, shared by q68 (native kernel) and
    * q107 (HOF fold + KernelRewrite): both must produce this answer.
    */
  private val annCosineOracle: String =
    s"""WITH ${annCosineCtes("qv.vec_id < 10")}
       |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
       |FROM dense
       |WHERE rank <= 5""".stripMargin

  /** The LSH plane/bucket CTE block shared by q69 and the multi-probe
    * q226: md5-parity hyperplanes, per-(vector, table) buckets; ends
    * in `buckets` (and exposes `n` for the exact re-rank). */
  private val lshBucketCtes: String =
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |pj AS (
       |  SELECT p, j,
       |         CASE WHEN (strpos('0123456789abcdef',
       |                substr(md5(p || ':' || j), 1, 1)) - 1) % 2 = 0
       |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
       |         END AS sgn
       |  FROM range(${Similarity.numTables * Similarity.bitsPerTable}) t1(p),
       |       range(${Similarity.defaultDim}) t2(j)),
       |planes AS (SELECT p, list(sgn ORDER BY j) AS pl FROM pj GROUP BY p),
       |dots AS (
       |  SELECT vec_id, p, list_dot_product(v, pl) AS d FROM n, planes),
       |buckets AS (
       |  SELECT vec_id, p // ${Similarity.bitsPerTable} AS tbl,
       |         sum(CASE WHEN d > 0
       |                  THEN 1 << (p % ${Similarity.bitsPerTable})
       |                  ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2)""".stripMargin

  /** The BM25 CTE block shared by q165 and the RRF fusion; ends in
    * `sparse` carrying the per-query rank. */
  private val bm25Ctes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE text IS NOT NULL),
      |tf AS (
      |  SELECT doc_id, dl, term, count(*) AS tf FROM (
      |    SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM toks)
      |  GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |         CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
      |  FROM toks),
      |qterms AS (
      |  SELECT DISTINCT query_id, term FROM (
      |    SELECT doc_id AS query_id, unnest(w[1:6]) AS term
      |    FROM toks WHERE doc_id % 101 = 0)),
      |scored AS (
      |  SELECT qterms.query_id, tf.doc_id,
      |         CAST(count(*) AS INTEGER) AS n_terms,
      |         round(sum(
      |           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |           * (tf.tf * (1.2 + 1)
      |              / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * tf.dl / s.avgdl)))
      |         ), 4) AS score
      |  FROM tf JOIN qterms ON tf.term = qterms.term
      |  JOIN dfreq d ON d.term = tf.term
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2),
      |sparse AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank FROM scored)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q60_exact_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT doc_id, fp,
        |       row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        |         AS is_canonical
        |FROM f""".stripMargin,
    "q97_pii_redact" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' mail user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' ref https://ex.org/d/' ||
         |      CAST(doc_id AS VARCHAR) || '?s=1' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' acct 900' ||
         |      lpad(CAST(doc_id AS VARCHAR), 6, '0') ELSE '' END AS t0
         |  FROM documents WHERE text IS NOT NULL),
         |s1 AS (SELECT doc_id, t0,
         |         regexp_replace(t0, '${TextOps.urlPattern}',
         |                        '<URL>', 'g') AS t1 FROM aug),
         |s2 AS (SELECT doc_id, t0, t1,
         |         regexp_replace(t1, '${TextOps.emailPattern}',
         |                        '<EMAIL>', 'g') AS t2 FROM s1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t0, '${TextOps.urlPattern}'))
         |    AS INTEGER) AS n_urls,
         |  CAST(len(regexp_extract_all(t1, '${TextOps.emailPattern}'))
         |    AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(t2, '${TextOps.longNumberPattern}'))
         |    AS INTEGER) AS n_nums,
         |  regexp_replace(t2, '${TextOps.longNumberPattern}', '<NUM>', 'g')
         |    AS red_text
         |FROM s2""".stripMargin,
    // The all-pairs Hamming scan + the q114 split derivation, joined.
    "q115_split_leaks" ->
      s"""WITH $simhashPairCtes,
         |${splitCtes(defaultCuts, "spl")}
         |SELECT p.da, p.db, p.hamming,
         |       a.split AS split_a, b.split AS split_b
         |FROM p JOIN sp a ON p.da = a.doc_id
         |       JOIN sp b ON p.db = b.doc_id
         |WHERE p.hamming <= 3 AND a.split <> b.split""".stripMargin,

    // The exact winnowing selection re-derived (shared CTE block, see
    // winnowPairCtes).
    "q113_winnowing" ->
      s"""WITH $winnowPairCtes
         |SELECT da, db, n_shared FROM wp""".stripMargin,
    // Same anchor derivation (8-token grams, 48-bit md5, df ≤ 64),
    // same diagonal islands — offsets/lengths are exact integers.
    "q236_dup_spans" ->
      s"""WITH $dupSpanCtes
         |SELECT doc_a, doc_b, start_a, start_b, span_len
         |FROM spans""".stripMargin,
    // The CUT composed on the span table: every token position of the
    // HIGHER doc covered by any span is removed, the survivor
    // re-assembled in token order — the Lee et al. dedup ACTION.
    "q241_span_cut" ->
      s"""WITH $dupSpanCtes,
         |cov AS (
         |  SELECT DISTINCT doc_b AS doc_id,
         |         CAST(unnest(range(start_b, start_b + span_len))
         |           AS INTEGER) AS pos
         |  FROM spans),
         |tk2 AS (
         |  SELECT doc_id,
         |         CAST(unnest(range(1, len(w) + 1)) AS INTEGER) AS pos, w
         |  FROM tok),
         |tk3 AS (SELECT doc_id, pos, w[pos] AS tk FROM tk2),
         |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens
         |        FROM tk3 GROUP BY 1),
         |kept AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(t.tk, ' ' ORDER BY t.pos) AS clean_text
         |  FROM tk3 t LEFT JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.pos IS NULL GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens,
         |       CAST(t.n_tokens - coalesce(k.n_kept, 0) AS INTEGER)
         |         AS n_cut,
         |       coalesce(k.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN kept k USING (doc_id)""".stripMargin,
    // ExactSubstr at the 50-token grain: the same gram derivation,
    // duplicated positions via one QUALIFY window, islands re-derived.
    "q398_exact_substr" -> exactSubstrSpansSql,
    // The rolling-kernel form is required identical to q398 (different
    // gram hash, same >1-occurrence positions) — oracle shared
    // verbatim.
    "q406_exact_substr_rolling" -> exactSubstrSpansSql,
    // q398's spans driven through the q241 rebuild (all occurrences
    // cut).
    "q399_exact_substr_cut" ->
      s"""WITH $exactSubstrCtes,
         |cov AS (
         |  SELECT DISTINCT doc_id,
         |         CAST(unnest(range(span_start, span_end + 1))
         |           AS INTEGER) AS pos
         |  FROM spans),
         |tk2 AS (
         |  SELECT doc_id,
         |         CAST(unnest(range(1, len(w) + 1)) AS INTEGER) AS pos, w
         |  FROM tok),
         |tk3 AS (SELECT doc_id, pos, w[pos] AS tk FROM tk2),
         |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens
         |        FROM tk3 GROUP BY 1),
         |kept AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(t.tk, ' ' ORDER BY t.pos) AS clean_text
         |  FROM tk3 t LEFT JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.pos IS NULL GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens,
         |       CAST(t.n_tokens - coalesce(k.n_kept, 0) AS INTEGER)
         |         AS n_cut,
         |       coalesce(k.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN kept k USING (doc_id)""".stripMargin,
    // q241's rebuild over the SELF-inclusive span table filtered to
    // span_len >= 12 — the all-but-first-occurrence cut.
    "q328_span_cut_first" ->
      s"""WITH $dupSpanSelfCtes,
         |sp2 AS (SELECT * FROM spans WHERE span_len >= 12),
         |cov AS (
         |  SELECT DISTINCT doc_b AS doc_id,
         |         CAST(unnest(range(start_b, start_b + span_len))
         |           AS INTEGER) AS pos
         |  FROM sp2),
         |tk2 AS (
         |  SELECT doc_id,
         |         CAST(unnest(range(1, len(w) + 1)) AS INTEGER) AS pos, w
         |  FROM tok),
         |tk3 AS (SELECT doc_id, pos, w[pos] AS tk FROM tk2),
         |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens
         |        FROM tk3 GROUP BY 1),
         |kept AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(t.tk, ' ' ORDER BY t.pos) AS clean_text
         |  FROM tk3 t LEFT JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.pos IS NULL GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens,
         |       CAST(t.n_tokens - coalesce(k.n_kept, 0) AS INTEGER)
         |         AS n_cut,
         |       coalesce(k.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN kept k USING (doc_id)""".stripMargin,
    // Delta contract: the same selection CTEs filtered to pairs
    // involving a new doc (the stop-fp cap is world-global in both).
    "q137_winnow_delta" ->
      s"""WITH $winnowPairCtes
         |SELECT da, db, n_shared FROM wp
         |WHERE da % 3 = 0 OR db % 3 = 0""".stripMargin,
    // Identical-answer contract: the bloom gate must be invisible in
    // values, so q155 shares q137's oracle verbatim.
    "q155_winnow_delta_bloom" ->
      s"""WITH $winnowPairCtes
         |SELECT da, db, n_shared FROM wp
         |WHERE da % 3 = 0 OR db % 3 = 0""".stripMargin,

    // q82's recursive component derivation, then the q114 split rule
    // applied to the CLUSTER id instead of the doc id.
    "q126_leak_safe_splits" -> {
      val bounds = graft.llm.Corpus.splitBounds(defaultCuts)
      val cases = bounds.init.map { case (nm, ub) =>
        s"WHEN u < CAST('$ub' AS DOUBLE) THEN '$nm'"
      }.mkString(" ")
      s"""WITH RECURSIVE $simhashPairCtes,
         |prs AS MATERIALIZED (SELECT da, db FROM p WHERE hamming <= 3),
         |edges AS MATERIALIZED (
         |  SELECT da AS src, db AS dst FROM prs
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM prs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e ON e.src = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
         |cu AS (SELECT doc_id, cluster,
         |         CAST(${OracleSql.md5High16(
                     "md5('spl:' || CAST(cluster AS VARCHAR))")} AS DOUBLE)
         |           / CAST(65536 AS DOUBLE) AS u
         |       FROM cc)
         |SELECT doc_id, cluster,
         |       CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM cu""".stripMargin
    },

    // Winnowing pair family × split assignment: the substring-overlap
    // leakage audit (q122) — same selection CTEs, joined against the
    // q114 split derivation, straddling pairs only.
    "q122_split_leaks_winnow" ->
      s"""WITH $winnowPairCtes,
         |${splitCtes(defaultCuts, "spl")}
         |SELECT w.da, w.db, w.n_shared,
         |       a.split AS split_a, b.split AS split_b
         |FROM wp w JOIN sp a ON w.da = a.doc_id
         |          JOIN sp b ON w.db = b.doc_id
         |WHERE a.split <> b.split""".stripMargin,

    // Jaccard pair family × split assignment (q121): the independent
    // all-pairs shingle-Jaccard derivation joined against the split
    // CTE — a delta join that dropped a straddling candidate (or kept
    // a majority×majority pair) cannot agree with it.
    "q121_split_leaks_jaccard" ->
      s"""WITH $shingleCtes,
         |pairs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT da, db, round(CAST(common AS DOUBLE) /
         |           (x.n_sh + y.n_sh - common), 4) AS jaccard
         |  FROM pairs JOIN sizes x ON da = x.doc_id
         |             JOIN sizes y ON db = y.doc_id),
         |${splitCtes(defaultCuts, "spl")}
         |SELECT j.da, j.db, j.jaccard,
         |       a.split AS split_a, b.split AS split_b
         |FROM j JOIN sp a ON j.da = a.doc_id
         |       JOIN sp b ON j.db = b.doc_id
         |WHERE j.jaccard >= 0.3 AND a.split <> b.split""".stripMargin,

    // DuckDB has no NFKC, so the oracle's norm side injects the
    // PRE-FOLDED literals (chr() codepoints): the injection is a
    // plan-time constant, so its folded image is too — the raw side
    // carries the original codepoints for changed/n_chars_raw, and the
    // base fixture text (ASCII) folds by plain lower().
    "q327_nfkc_fold" ->
      """WITH inj AS (
        |  SELECT doc_id, text,
        |    text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' ' || chr(64257) || 'le '
        |      || chr(65332) || chr(65317) || chr(65331) || chr(65332)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' ' || chr(178) || chr(179)
        |      || ' ' || chr(181) || 'm' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 2 THEN ' ' || chr(8555)
        |      || chr(64256) || chr(8552) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(8491) || chr(160)
        |      || 'UNITS' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' MixedCASE' ELSE '' END
        |      AS raw,
        |    lower(text) ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' file test' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' 23 ' || chr(956) || 'm'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 2 THEN ' xiiffix' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(229) || ' units'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' mixedcase' ELSE '' END
        |      AS norm_text
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, norm_text, norm_text <> raw AS changed,
        |  CAST(length(raw) AS INTEGER) AS n_chars_raw,
        |  CAST(length(norm_text) AS INTEGER) AS n_chars_norm
        |FROM inj""".stripMargin,

    // Identical injection (chr() codepoints = the Scala \u escapes),
    // then DuckDB's own nfc_normalize + RE2 cascade. Both engines
    // count length in code points.
    "q110_text_canon" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 4 = 0
        |              THEN ' cafe' || chr(769) || ' mix' ELSE '' END ||
        |         CASE WHEN doc_id % 4 = 1
        |              THEN ' caf' || chr(233) || ' mix' ELSE '' END ||
        |         CASE WHEN doc_id % 4 = 2
        |              THEN ' A' || chr(778) || 'ring' ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' ctl' || chr(7) || 'x' || chr(31) || 'y'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN '  wide   run' || chr(9) || ' tail ' ELSE '' END
        |           AS text
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |           '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))
        |           AS clean_text
        |  FROM inj)
        |SELECT doc_id, clean_text, clean_text <> text AS changed,
        |       CAST(length(text) AS INTEGER) AS n_chars_raw,
        |       CAST(length(clean_text) AS INTEGER) AS n_chars_clean
        |FROM c""".stripMargin,
    "q98_paragraph_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |seg AS (
        |  SELECT doc_id, CAST(k AS INTEGER) AS seg_idx,
        |         array_to_string(w[k*20+1 : LEAST((k+1)*20, len(w))], ' ')
        |           AS seg
        |  FROM tok, LATERAL (SELECT unnest(range(0,
        |         CAST((len(w)+19)//20 AS BIGINT))) AS k)),
        |ordd AS (SELECT doc_id, seg_idx, seg,
        |                doc_id*1000000 + seg_idx AS ord FROM seg),
        |claims AS (SELECT seg, min(ord) AS w_ord FROM ordd GROUP BY 1),
        |kept AS (SELECT o.* FROM ordd o
        |         JOIN claims c ON o.seg = c.seg AND o.ord = c.w_ord),
        |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_seg
        |        FROM seg GROUP BY 1),
        |ka AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
        |              string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |       FROM kept GROUP BY 1)
        |SELECT t.doc_id, t.n_seg, COALESCE(ka.n_kept, 0) AS n_kept,
        |       COALESCE(ka.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN ka USING (doc_id)""".stripMargin,
    // Per-class stats, pico-floored lns, the same argmax total order.
    "q389_naive_bayes" -> naiveBayesOracle,

    // The CMS md5-high-16 bucket rule re-derived per token.
    "q390_feature_hash" ->
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |tk AS (SELECT doc_id,
         |         unnest(regexp_split_to_array(trim(text), '\\s+'))
         |           AS tok
         |       FROM d)
         |SELECT doc_id,
         |  CAST((${OracleSql.md5High16("md5(tok)")}) % 64 AS INTEGER)
         |    AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM tk GROUP BY 1, 2""".stripMargin,

    "q61_token_stats" ->
      s"""WITH $tokCte
         |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         |       CAST(len(regexp_extract_all(text,
         |         '${TextOps.bpeSplitPattern}'))
         |         AS INTEGER) AS n_tokens_bpe,
         |       CAST(length(text) AS INTEGER) AS n_chars_measured,
         |       round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
         |             / len(w), 4) AS avg_token_len
         |FROM tok""".stripMargin,
    "q62_quality_score" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      val punct = Seq(".", ",", "!", "?").map(p =>
        s"(length(text) - length(replace(text, '$p', '')))").mkString(" + ")
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, text, w,
         |        len(list_filter(w, x -> $stopCond)) AS stops,
         |        $punct AS punct FROM tok)
         |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         |       round(CAST(stops AS DOUBLE) / len(w), 4) AS stop_ratio,
         |       round(CAST(punct AS DOUBLE) / length(text), 4) AS punct_ratio,
         |       round(least(CAST(len(w) AS DOUBLE) / 100, CAST(1 AS DOUBLE))
         |             * (CAST(1 AS DOUBLE) - CAST(stops AS DOUBLE) / len(w)), 4)
         |         AS quality
         |FROM m""".stripMargin
    },
    "q63_lang_id" ->
      s"""WITH $tokCte,
         |sc AS (
         |$langScoreUnion)
         |SELECT doc_id, lang AS predicted_lang,
         |       CAST(score AS INTEGER) AS marker_hits
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, lang) AS rn FROM sc)
         |WHERE rn = 1""".stripMargin,
    "q64_jaccard_pairs" -> jaccardOracle(0.3),
    // One conditional-sum term groupBy, pico-floored contributions,
    // the shared ln2 literal at the edge.
    "q355_js_divergence" ->
      s"""WITH $tokCte,
         |tt AS (SELECT (doc_id % 2 = 1) AS b, unnest(w) AS term
         |       FROM tok),
         |counts AS (SELECT term,
         |    sum(CASE WHEN b THEN 0 ELSE 1 END) AS ca,
         |    sum(CASE WHEN b THEN 1 ELSE 0 END) AS cb
         |  FROM tt GROUP BY 1),
         |tot AS (SELECT count(*) AS n_terms, sum(ca) AS na,
         |          sum(cb) AS nb FROM counts),
         |c12 AS (SELECT n_terms, na, nb,
         |          CAST(floor(((CASE WHEN ca > 0
         |              THEN p * ln(p / mm) ELSE 0.0 END)
         |            + (CASE WHEN cb > 0
         |              THEN q * ln(q / mm) ELSE 0.0 END))
         |            * 1000000000000.0) AS BIGINT) AS c12
         |        FROM (SELECT *, (p + q) / 2.0 AS mm FROM (
         |          SELECT counts.ca, counts.cb, tot.n_terms, tot.na,
         |            tot.nb,
         |            CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p,
         |            CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q
         |          FROM counts, tot))),
         |s AS (SELECT n_terms, na, nb, sum(c12) AS s12
         |      FROM c12 GROUP BY 1, 2, 3)
         |SELECT n_terms, CAST(na AS BIGINT) AS na,
         |  CAST(nb AS BIGINT) AS nb,
         |  CAST(round(CAST(s12 AS DOUBLE) / 2000000000000.0, 6) AS REAL)
         |    AS jsd,
         |  CAST(round(CAST(s12 AS DOUBLE) / 2000000000000.0
         |    / 0.6931471805599453, 4) AS REAL) AS jsd_norm
         |FROM s""".stripMargin,
    // Identical greedy-regex vowel/sentence runs, the same fixed
    // score sequence; shared floor hedge (NOT round — a .xx5-boundary
    // doc in the sf0.001 fixture exposed the engines' round()
    // divergence, see TextOps.flesch).
    "q356_flesch" ->
      s"""WITH $tokCte,
         |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(length(regexp_extract_all(text, '[aeiouy]+'))
         |          AS BIGINT) AS n_syllables,
         |        greatest(CAST(length(regexp_extract_all(text, '[.!?]+'))
         |          AS BIGINT), CAST(1 AS BIGINT)) AS n_sentences
         |      FROM tok)
         |SELECT doc_id, n_words, n_syllables, n_sentences,
         |  CAST(floor((CASE WHEN n_words > 0 THEN 206.835
         |    - 1.015 * (CAST(n_words AS DOUBLE)
         |      / CAST(n_sentences AS DOUBLE))
         |    - 84.6 * (CAST(n_syllables AS DOUBLE)
         |      / CAST(n_words AS DOUBLE)) END) * 100 + 0.5) / 100
         |    AS REAL) AS flesch
         |FROM b""".stripMargin,
    // The q64 pair derivation + clipped-multiset gram overlaps + the
    // same F sequence with the empty-overlap 0 contract.
    "q357_rouge" ->
      s"""WITH $shingleCtes,
         |cp AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |pairs AS (SELECT da, db FROM (
         |    SELECT da, db, round(CAST(common AS DOUBLE)
         |        / (x.n_sh + y.n_sh - common), 4) AS j
         |    FROM cp JOIN sizes x ON da = x.doc_id
         |            JOIN sizes y ON db = y.doc_id)
         |  WHERE j >= 0.3),
         |g1 AS (SELECT doc_id, g, count(*) AS cnt FROM
         |        (SELECT doc_id, unnest(w) AS g FROM tok) GROUP BY 1, 2),
         |g2 AS (SELECT doc_id, g, count(*) AS cnt FROM
         |        (SELECT doc_id, w[i] || ' ' || w[i+1] AS g FROM idx
         |         WHERE i + 1 <= len(w)) GROUP BY 1, 2),
         |t1 AS (SELECT doc_id, sum(cnt) AS tot FROM g1 GROUP BY 1),
         |t2 AS (SELECT doc_id, sum(cnt) AS tot FROM g2 GROUP BY 1),
         |o1 AS (SELECT p.da, p.db, sum(least(a.cnt, b.cnt)) AS ov
         |       FROM pairs p
         |       JOIN g1 a ON a.doc_id = p.da
         |       JOIN g1 b ON b.doc_id = p.db AND b.g = a.g
         |       GROUP BY 1, 2),
         |o2 AS (SELECT p.da, p.db, sum(least(a.cnt, b.cnt)) AS ov
         |       FROM pairs p
         |       JOIN g2 a ON a.doc_id = p.da
         |       JOIN g2 b ON b.doc_id = p.db AND b.g = a.g
         |       GROUP BY 1, 2),
         |jj AS (SELECT p.da, p.db,
         |         COALESCE(o1.ov, 0) AS ov1, COALESCE(o2.ov, 0) AS ov2,
         |         ta1.tot AS ta1, tb1.tot AS tb1,
         |         ta2.tot AS ta2, tb2.tot AS tb2
         |       FROM pairs p
         |       LEFT JOIN o1 ON o1.da = p.da AND o1.db = p.db
         |       LEFT JOIN o2 ON o2.da = p.da AND o2.db = p.db
         |       JOIN t1 ta1 ON ta1.doc_id = p.da
         |       JOIN t1 tb1 ON tb1.doc_id = p.db
         |       JOIN t2 ta2 ON ta2.doc_id = p.da
         |       JOIN t2 tb2 ON tb2.doc_id = p.db),
         |rr AS (SELECT *,
         |         CAST(ov1 AS DOUBLE) / CAST(tb1 AS DOUBLE) AS pr1,
         |         CAST(ov1 AS DOUBLE) / CAST(ta1 AS DOUBLE) AS rr1,
         |         CAST(ov2 AS DOUBLE) / CAST(tb2 AS DOUBLE) AS pr2,
         |         CAST(ov2 AS DOUBLE) / CAST(ta2 AS DOUBLE) AS rr2
         |       FROM jj)
         |SELECT da, db, CAST(ov1 AS BIGINT) AS ov1,
         |  CAST(round(CASE WHEN pr1 + rr1 > 0
         |    THEN 2.0 * pr1 * rr1 / (pr1 + rr1)
         |    ELSE 0.0 END, 4) AS REAL) AS rouge1_f,
         |  CAST(ov2 AS BIGINT) AS ov2,
         |  CAST(round(CASE WHEN pr2 + rr2 > 0
         |    THEN 2.0 * pr2 * rr2 / (pr2 + rr2)
         |    ELSE 0.0 END, 4) AS REAL) AS rouge2_f
         |FROM rr""".stripMargin,
    // The exact pair contract restricted to pairs involving a "new"
    // doc (doc_id % 3 = 0) — an independent all-pairs derivation, so
    // a delta join that silently dropped old-side candidates (or kept
    // old×old pairs) cannot agree with it.
    "q95_delta_dedup" ->
      jaccardOracle(0.3, " AND (da % 3 = 0 OR db % 3 = 0)"),
    // Identical-answer contract: q157 shares q95's oracle verbatim.
    "q157_jaccard_delta_bloom" ->
      jaccardOracle(0.3, " AND (da % 3 = 0 OR db % 3 = 0)"),
    // Full re-derivation of the banded-MinHash path: md5-family
    // signatures (literal multipliers interpolated from the SAME
    // MinHashSigMd5 constants the engine uses), raw band keys,
    // candidate set, then exact Jaccard verification — so the gate is
    // independent of LSH recall on any particular fixture.
    "q65_minhash_lsh" -> minhashLshOracle(0.5),
    "q66_simhash" ->
      s"""WITH t2 AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM t2),
         |c AS (SELECT doc_id,
         |    $simhashCols
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, $simhashConcat AS simhash FROM c""".stripMargin,
    // Oracle is the NAIVE all-pairs Hamming scan (no banding) — an
    // independent derivation, so a broken band join can't agree with a
    // broken oracle.
    "q74_simhash_pairs" ->
      s"""WITH $simhashPairCtes
         |SELECT da, db, hamming FROM p WHERE hamming <= 3""".stripMargin,
    "q196_edit_verified" ->
      s"""WITH $simhashPairCtes
         |SELECT p.da, p.db, p.hamming,
         |       CAST(levenshtein(substr(a.text, 1, 200),
         |                        substr(b.text, 1, 200)) AS INTEGER)
         |         AS edit
         |FROM p JOIN documents a ON p.da = a.doc_id
         |       JOIN documents b ON p.db = b.doc_id
         |WHERE p.hamming <= 3
         |  AND levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200))
         |      <= 20""".stripMargin,
    "q224_jaro_linkage" ->
      s"""WITH $simhashPairCtes
         |SELECT da, db, hamming, jw FROM (
         |  SELECT p.da, p.db, p.hamming,
         |         CAST(floor(jaro_winkler_similarity(
         |                substr(a.text, 1, 200), substr(b.text, 1, 200))
         |              * 1e4 + 0.5) / 1e4 AS REAL) AS jw
         |  FROM p JOIN documents a ON p.da = a.doc_id
         |         JOIN documents b ON p.db = b.doc_id
         |  WHERE p.hamming <= 3)
         |WHERE jw >= 0.9""".stripMargin,
    // The same sort-key ranks re-derived by row_number, the naive
    // rank-distance join, the same floor-rounded DuckDB-vendored
    // RapidFuzz kernel q224 pinned.
    "q279_sorted_neighborhood" ->
      """WITH kd AS (SELECT doc_id,
        |              lower(substr(trim(text), 1, 16)) AS k,
        |              substr(text, 1, 200) AS pfx
        |            FROM documents WHERE text IS NOT NULL),
        |rk AS (SELECT doc_id, pfx,
        |         CAST(row_number() OVER (ORDER BY k, doc_id)
        |           AS BIGINT) AS rn
        |       FROM kd),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |             b.rn - a.rn AS rank_dist,
        |             CAST(floor(jaro_winkler_similarity(a.pfx, b.pfx)
        |               * 1e4 + 0.5) / 1e4 AS REAL) AS jw
        |      FROM rk a JOIN rk b
        |        ON b.rn > a.rn AND b.rn <= a.rn + 4)
        |SELECT da, db, rank_dist, jw FROM p WHERE jw >= 0.9""".stripMargin,
    // The q224 pair rule closed into components by recursive
    // reachability with min-label — the q82 derivation over the
    // LINKAGE edge set; every doc a vertex (singletons included).
    "q229_linkage_clusters" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         |jwp AS MATERIALIZED (
         |  SELECT p.da, p.db
         |  FROM p JOIN documents a ON p.da = a.doc_id
         |         JOIN documents b ON p.db = b.doc_id
         |  WHERE p.hamming <= 3
         |    AND CAST(floor(jaro_winkler_similarity(
         |          substr(a.text, 1, 200), substr(b.text, 1, 200))
         |          * 1e4 + 0.5) / 1e4 AS REAL) >= 0.9),
         |edges AS MATERIALIZED (
         |  SELECT da AS src, db AS dst FROM jwp
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM jwp),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e ON e.src = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach
         |       GROUP BY 1),
         |cs AS (SELECT cluster, CAST(count(*) AS INTEGER)
         |         AS cluster_size FROM cc GROUP BY 1)
         |SELECT c.doc_id, c.cluster, s.cluster_size,
         |       c.doc_id = c.cluster AS is_canonical
         |FROM cc c JOIN cs s USING (cluster)""".stripMargin,
    "q96_simhash_delta" ->
      s"""WITH $simhashPairCtes
         |SELECT da, db, hamming FROM p
         |WHERE hamming <= 3 AND (da % 3 = 0 OR db % 3 = 0)""".stripMargin,
    // The 64-bit family re-derived at width 64: same md5-nibble bit
    // definition, naive all-pairs Hamming scan as the independent
    // derivation (no banding — a broken 16-bit band join can't agree
    // with it).
    "q118_simhash64" ->
      s"""WITH t2 AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM t2),
         |c AS (SELECT doc_id,
         |    ${OracleSql.simhashColsN(Dedup.simhashBits64)}
         |  FROM h GROUP BY doc_id)
         |SELECT doc_id, ${OracleSql.simhashConcatN(Dedup.simhashBits64)}
         |  AS simhash FROM c""".stripMargin,
    "q119_simhash64_pairs" ->
      s"""WITH ${simhashPairCtesN(Dedup.simhashBits64)}
         |SELECT da, db, hamming FROM p WHERE hamming <= 3""".stripMargin,
    "q120_simhash64_delta" ->
      s"""WITH ${simhashPairCtesN(Dedup.simhashBits64)}
         |SELECT da, db, hamming FROM p
         |WHERE hamming <= 3 AND (da % 3 = 0 OR db % 3 = 0)""".stripMargin,
    // Identical answer contract: the bloom gate never drops a true
    // band match and its false positives fail the exact equality
    // join, so q135 shares q120's naive all-pairs oracle verbatim.
    "q135_delta_bloom_prune" ->
      s"""WITH ${simhashPairCtesN(Dedup.simhashBits64)}
         |SELECT da, db, hamming FROM p
         |WHERE hamming <= 3 AND (da % 3 = 0 OR db % 3 = 0)""".stripMargin,
    // The filter grid re-derived as a distinct position SET (the
    // bitmap is just that set, packed): same "i:key" md5 salts, same
    // 48-bit slice mod m, membership = all 4 positions present.
    "q134_bloom_membership" -> {
      def bfPos(gram: String, j: String) =
        s"(${OracleSql.md5Int48(
          s"md5(CAST($j AS VARCHAR) || ':' || $gram)")}) % $bloomM"
      s"""WITH $tokCte,
         |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
         |g AS (SELECT DISTINCT doc_id,
         |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
         |      FROM idx WHERE i + 2 <= len(w)),
         |corpus AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 <> 0),
         |js AS (SELECT unnest(range(4)) AS j),
         |cpos AS (SELECT DISTINCT ${bfPos("gram", "j")} AS p
         |         FROM corpus CROSS JOIN js),
         |probe AS (SELECT gram, count(*) AS cnt FROM g
         |          WHERE doc_id % 3 = 0 GROUP BY 1
         |          ORDER BY cnt DESC, gram LIMIT 200),
         |hits AS (SELECT pr.gram, pr.cnt, count(cp.p) AS nhit
         |         FROM probe pr CROSS JOIN js
         |         LEFT JOIN cpos cp ON cp.p = ${bfPos("pr.gram", "js.j")}
         |         GROUP BY 1, 2)
         |SELECT h.gram, h.cnt,
         |  CAST(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         |    AS present,
         |  CAST(CASE WHEN h.nhit = 4 THEN 1 ELSE 0 END AS INTEGER)
         |    AS bf_maybe
         |FROM hits h LEFT JOIN corpus c USING (gram)""".stripMargin
    },

    // Connected components via recursive reachability: every doc
    // reaches itself plus anything across near-dup edges; cluster =
    // min reachable id. MATERIALIZED on the CTEs the recursive half
    // re-reads (DuckDB re-evaluates plain CTEs per iteration).
    "q82_dup_clusters" -> dupClustersOracle,
    // MIS anchors: the q82 edge/cluster derivations composed with the
    // q405 Luby round generator (OracleSql.lubyMisCtes) over the SAME
    // symmetric near-dup edge set — one recursion for the cluster
    // labels, three unrolled rounds for the anchor states.
    "q409_mis_anchors" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         |prs AS MATERIALIZED (SELECT da, db FROM p WHERE hamming <= 3),
         |e AS MATERIALIZED (
         |  SELECT da AS u, db AS v FROM prs
         |  UNION ALL
         |  SELECT db AS u, da AS v FROM prs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.v AS v, re.r AS r
         |  FROM reach re JOIN e ON e.u = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach
         |       GROUP BY 1),
         |a0 AS (SELECT doc_id AS id FROM documents),
         |${OracleSql.lubyMisCtes(3)}
         |SELECT c.doc_id, c.cluster, m.state
         |FROM cc c JOIN mis_state m ON m.id = c.doc_id""".stripMargin,
    // The q82 component derivation wrapped, grouped by size.
    "q368_cluster_sizes" ->
      s"""SELECT cluster_size,
         |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
         |  count(*) AS n_docs
         |FROM ($dupClustersOracle)
         |GROUP BY 1""".stripMargin,
    // Identical answer contract: the incremental path must reproduce
    // the full recompute, so q133 shares q82's oracle verbatim.
    "q133_day2_clusters" -> dupClustersOracle,

    // The same sh/sizes CTEs as the containment family, then df with
    // its min-owner, unique-owner counts, and the per-doc ratio.
    "q153_novelty" ->
      s"""WITH $shingleCtes,
         |df AS (SELECT s, count(*) AS df, min(doc_id) AS owner
         |       FROM sh GROUP BY 1),
         |nv AS (SELECT owner AS doc_id, CAST(count(*) AS INTEGER)
         |         AS n_novel
         |       FROM df WHERE df = 1 GROUP BY 1)
         |SELECT z.doc_id, CAST(z.n_sh AS INTEGER) AS n_shingles,
         |       coalesce(nv.n_novel, 0) AS n_novel,
         |       CAST(round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
         |         / z.n_sh, 4) AS REAL) AS novelty
         |FROM sizes z LEFT JOIN nv USING (doc_id)""".stripMargin,

    // Same component derivation as q82, then the soft-dedup rate and
    // verdict: sqrt(size)/size is exactly rounded in both engines, and
    // the md5-uniform comparison is the q78/q114 discipline.
    "q149_cluster_sample" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         |prs AS MATERIALIZED (SELECT da, db FROM p WHERE hamming <= 3),
         |edges AS MATERIALIZED (
         |  SELECT da AS src, db AS dst FROM prs
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM prs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e ON e.src = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
         |cs AS (SELECT cluster, CAST(count(*) AS INTEGER) AS cluster_size
         |       FROM cc GROUP BY 1)
         |SELECT c.doc_id, c.cluster, s.cluster_size,
         |       sqrt(CAST(s.cluster_size AS DOUBLE)) / s.cluster_size AS rate,
         |       CAST(${OracleSql.md5High16(
                   "md5('cbs:' || CAST(c.doc_id AS VARCHAR))")} AS DOUBLE)
         |           / CAST(65536 AS DOUBLE)
         |         < sqrt(CAST(s.cluster_size AS DOUBLE)) / s.cluster_size
         |         AS keep
         |FROM cc c JOIN cs s USING (cluster)""".stripMargin,

    // Same component derivation as q82, joined with q62's quality
    // formula; the per-cluster winner is row_number() = 1 on
    // (quality DESC, doc_id) — quality is rounded to 4 places first,
    // so the ranking is engine-stable.
    "q85_cluster_dedup" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      s"""WITH RECURSIVE $simhashPairCtes,
         |prs AS MATERIALIZED (SELECT da, db FROM p WHERE hamming <= 3),
         |edges AS MATERIALIZED (
         |  SELECT da AS src, db AS dst FROM prs
         |  UNION ALL
         |  SELECT db AS src, da AS dst FROM prs),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e ON e.src = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
         |cs AS (SELECT cluster, CAST(count(*) AS INTEGER) AS cluster_size
         |       FROM cc GROUP BY 1),
         |tk AS (SELECT doc_id,
         |         regexp_split_to_array(trim(text), '\\s+') AS w
         |       FROM documents),
         |q AS (SELECT doc_id,
         |        round(least(CAST(len(w) AS DOUBLE) / 100, CAST(1 AS DOUBLE))
         |          * (CAST(1 AS DOUBLE)
         |             - CAST(len(list_filter(w, x -> $stopCond)) AS DOUBLE)
         |               / len(w)), 4) AS quality
         |      FROM tk)
         |SELECT c.doc_id, c.cluster, s.cluster_size, q.quality,
         |       row_number() OVER (PARTITION BY c.cluster
         |         ORDER BY q.quality DESC NULLS LAST, c.doc_id) = 1 AS keep
         |FROM cc c JOIN cs s USING (cluster) JOIN q USING (doc_id)"""
        .stripMargin
    },

    // Rule metrics re-derived independently (bigram stats via the
    // string-keyed aggregate, not hashes); every threshold compares
    // ROUNDED values cast to DOUBLE, mirroring the engine exactly.
    "q87_gopher_filter" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      s"""WITH $tokCte,
         |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
         |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |      FROM idx WHERE i + 1 <= len(w)),
         |counts AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id,
         |          sum(c) AS n_grams,
         |          count(*) AS n_distinct,
         |          max(c) AS max_c
         |        FROM counts GROUP BY 1),
         |base AS (
         |  SELECT t.doc_id,
         |         CAST(len(w) AS INTEGER) AS n_tokens,
         |         round(CAST(list_sum(list_transform(w, x -> len(x)))
         |                 AS DOUBLE) / len(w), 4) AS avg_token_len,
         |         round(CAST(len(list_filter(w, x -> $stopCond)) AS DOUBLE)
         |               / len(w), 4) AS stop_ratio,
         |         round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 4)
         |           AS dup_frac,
         |         round(CAST(max_c AS DOUBLE) / n_grams, 4) AS top_frac
         |  FROM tok t LEFT JOIN agg USING (doc_id)),
         |flags AS (
         |  SELECT *,
         |         n_tokens >= 20 AND n_tokens <= 90 AS pass_length,
         |         avg_token_len >= CAST(3 AS DOUBLE)
         |           AND avg_token_len <= CAST(10 AS DOUBLE) AS pass_avg_len,
         |         stop_ratio > CAST(0 AS DOUBLE) AS pass_stopword,
         |         coalesce(dup_frac <= CAST(0.1 AS DOUBLE)
         |           AND top_frac <= CAST(0.1 AS DOUBLE), true)
         |           AS pass_repetition
         |  FROM base)
         |SELECT doc_id, n_tokens, avg_token_len, stop_ratio, dup_frac,
         |       top_frac, pass_length, pass_avg_len, pass_stopword,
         |       pass_repetition,
         |       pass_length AND pass_avg_len AND pass_stopword
         |         AND pass_repetition AS keep
         |FROM flags""".stripMargin
    },

    // q87's metric/flag block + the three fingerprint derivations
    // (q60's content md5, q73's rolling fold, q66's simhash bits)
    // joined per doc — one oracle for the whole ingest-gate frame.
    "q93_ingest_gate" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      s"""WITH $tokCte,
         |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
         |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |      FROM idx WHERE i + 1 <= len(w)),
         |counts AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id,
         |          sum(c) AS n_grams,
         |          count(*) AS n_distinct,
         |          max(c) AS max_c
         |        FROM counts GROUP BY 1),
         |base AS (
         |  SELECT t.doc_id,
         |         CAST(len(w) AS INTEGER) AS n_tokens,
         |         round(CAST(list_sum(list_transform(w, x -> len(x)))
         |                 AS DOUBLE) / len(w), 4) AS avg_token_len,
         |         round(CAST(len(list_filter(w, x -> $stopCond)) AS DOUBLE)
         |               / len(w), 4) AS stop_ratio,
         |         round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 4)
         |           AS dup_frac,
         |         round(CAST(max_c AS DOUBLE) / n_grams, 4) AS top_frac
         |  FROM tok t LEFT JOIN agg USING (doc_id)),
         |fpx AS (
         |  SELECT doc_id,
         |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |roll AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(w, t -> CAST(list_sum(list_transform(range(1, 9),
         |        i -> (strpos('0123456789abcdef',
         |                substr(md5(t), CAST(i AS INT), 1)) - 1)
         |             * 16 ** (8 - i))) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp
         |  FROM tok),
         |t2 AS (SELECT doc_id, unnest(w) AS tk FROM tok),
         |h2 AS (SELECT doc_id, md5(tk) AS h FROM t2),
         |cb AS (SELECT doc_id,
         |    $simhashCols
         |  FROM h2 GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens, b.avg_token_len, b.stop_ratio,
         |       b.dup_frac, b.top_frac,
         |       b.n_tokens >= 20 AND b.n_tokens <= 90
         |         AND b.avg_token_len >= CAST(3 AS DOUBLE)
         |         AND b.avg_token_len <= CAST(10 AS DOUBLE)
         |         AND b.stop_ratio > CAST(0 AS DOUBLE)
         |         AND coalesce(b.dup_frac <= CAST(0.1 AS DOUBLE)
         |               AND b.top_frac <= CAST(0.1 AS DOUBLE), true) AS keep,
         |       f.fp, r.rolling_fp, $simhashConcat AS simhash
         |FROM base b JOIN fpx f USING (doc_id) JOIN roll r USING (doc_id)
         |     JOIN cb USING (doc_id)""".stripMargin
    },

    "q83_repetition" ->
      s"""WITH $tokCte,
         |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
         |g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |      FROM idx WHERE i + 1 <= len(w)),
         |counts AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id,
         |          CAST(sum(c) AS INTEGER) AS n_grams,
         |          CAST(count(*) AS INTEGER) AS n_distinct,
         |          CAST(max(c) AS INTEGER) AS max_c
         |        FROM counts GROUP BY 1)
         |SELECT doc_id, n_grams, n_distinct,
         |       round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 4)
         |         AS dup_frac,
         |       round(CAST(max_c AS DOUBLE) / n_grams, 4) AS top_frac
         |FROM agg""".stripMargin,
    "q67_tfidf_top3" ->
      """WITH t2 AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term,
        |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term) AS rank FROM sc)
        |WHERE rank <= 3""".stripMargin,
    // Full oracle for the IVF ANN path: the ENTIRE pipeline is
    // deterministic (lowest-vec_id init, 2 Lloyd iterations, nprobe
    // probe, candidate cosine, ranked top-k), so DuckDB re-derives it
    // end-to-end. Cell argmins are exact double compares on random
    // vectors (no ties in practice — verified hash-identical at
    // sf0.001/0.01/0.1); the output cosine is computed from the
    // ORIGINAL vectors, so centroid float drift cannot reach it.
    // The SAME Lloyd chain as q71/q139 (shared CTE builder), surfaced
    // as the centroid table: per-(cell, dim) means + cell sizes, the
    // shared-floor rounding at the float edge.
    "q246_kmeans" -> {
      val dim = Similarity.defaultDim
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |${OracleSql.lloydChain(dim, 16, 2)},
         |sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |          FROM af GROUP BY 1),
         |grid AS (SELECT cell, CAST(i AS INTEGER) AS pos,
         |           CAST(floor(c[CAST(i AS INT) + 1] * 10000 + 0.5)
         |                / 10000 AS REAL) AS c
         |         FROM c2, range($dim) t(i))
         |SELECT g.cell, coalesce(s.n_vecs, 0) AS n_vecs, g.pos, g.c
         |FROM grid g LEFT JOIN sizes s USING (cell)""".stripMargin
    },
    // The same Lloyd chain, all-cell distances off one af × c2
    // product, the same fixed s sequence micro-scaled per cell.
    "q313_silhouette" -> {
      val dim = Similarity.defaultDim
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |${OracleSql.lloydChain(dim, 16, 2)},
         |dm AS (SELECT af.vec_id, af.cell, c.cell AS c2c,
         |         ${OracleSql.sqDistSql(dim, "af.v", "c.c")} AS d
         |       FROM af, c2 c),
         |ab AS (SELECT vec_id, cell,
         |         min(CASE WHEN c2c = cell THEN d END) AS a2,
         |         min(CASE WHEN c2c <> cell THEN d END) AS b2
         |       FROM dm GROUP BY 1, 2),
         |s6 AS (SELECT cell, CAST(floor(
         |    CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0 THEN
         |      (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
         |    ELSE 0.0 END * 1e6 + 0.5) AS BIGINT) AS s6
         |  FROM ab)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(floor(CAST(sum(CAST(s6 AS HUGEINT)) AS DOUBLE)
         |      / count(*) / 1e6 * 1e6 + 0.5) / 1e6 AS REAL)
         |    AS mean_sil
         |FROM s6 GROUP BY 1""".stripMargin
    },
    // The same chain; scatter means off micro-unit sums, the k²
    // centroid-pair ratios, max per cluster, micro-scaled final mean.
    "q314_davies_bouldin" -> {
      val dim = Similarity.defaultDim
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |${OracleSql.lloydChain(dim, 16, 2)},
         |dm AS (SELECT af.vec_id, af.cell, c.cell AS c2c,
         |         ${OracleSql.sqDistSql(dim, "af.v", "c.c")} AS d
         |       FROM af, c2 c),
         |ab AS (SELECT vec_id, cell,
         |         min(CASE WHEN c2c = cell THEN d END) AS a2
         |       FROM dm GROUP BY 1, 2),
         |sc AS (SELECT cell,
         |         CAST(sum(CAST(CAST(floor(sqrt(a2) * 1e6 + 0.5)
         |             AS BIGINT) AS HUGEINT)) AS DOUBLE)
         |           / count(*) / 1e6 AS sc
         |       FROM ab GROUP BY 1),
         |cp AS (SELECT i.cell AS ci, j.cell AS cj,
         |         sqrt(${OracleSql.sqDistSql(dim, "i.c", "j.c")}) AS m
         |       FROM c2 i, c2 j WHERE i.cell <> j.cell),
         |rij AS (SELECT ci, (si.sc + sj.sc) / m AS r
         |        FROM cp JOIN sc si ON si.cell = cp.ci
         |        JOIN sc sj ON sj.cell = cp.cj
         |        WHERE m > 0),
         |mx AS (SELECT ci, CAST(floor(max(r) * 1e6 + 0.5) AS BIGINT)
         |         AS m6
         |       FROM rij GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(floor(CAST(sum(CAST(m6 AS HUGEINT)) AS DOUBLE)
         |      / count(*) / 1e6 * 1e6 + 0.5) / 1e6 AS REAL)
         |    AS db_index
         |FROM mx""".stripMargin
    },
    // The projection replayed: same md5-parity planes (the q69 CTE
    // convention), one list_dot_product per (vector, plane), exact
    // 0.25 scale, shared floor rounding.
    "q250_rp_project" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pj AS (
         |  SELECT p, j,
         |         CASE WHEN (strpos('0123456789abcdef',
         |                substr(md5(p || ':' || j), 1, 1)) - 1) % 2 = 0
         |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE)
         |         END AS sgn
         |  FROM range(16) t1(p), range(${Similarity.defaultDim}) t2(j)),
         |planes AS (SELECT p, list(sgn ORDER BY j) AS pl
         |           FROM pj GROUP BY p),
         |dots AS (
         |  SELECT vec_id, CAST(p AS INTEGER) AS pos,
         |         list_dot_product(v, pl) AS d
         |  FROM e, planes)
         |SELECT vec_id, pos,
         |       CAST(floor(d * 0.25 * 10000 + 0.5) / 10000 AS REAL) AS p
         |FROM dots""".stripMargin,
    // The full power iteration replayed: same quantization grid, same
    // exact covariance, same sign-safe scaling, all 8 rounds unrolled
    // MATERIALIZED with the identical pivot/floor arithmetic.
    "q254_pca_loadings" -> pcaLoadingsOracle,
    // Identical-answer contract on the PCA MOMENT state (the q249/
    // q220 pattern on linear algebra): split moments re-summed == the
    // one-pass covariance because exact long sums commute — shares
    // q254's oracle VERBATIM.
    "q264_pca_day2" -> pcaLoadingsOracle,
    "q255_pca_scores" ->
      s"""WITH ${graft.llm.Pca.oracleQuantCte},
         |${graft.llm.Pca.oracleCte(Similarity.defaultDim, 8)}
         |SELECT q.vec_id, CAST(sum(q.q * v.v) AS BIGINT) AS pc1_fp
         |FROM q JOIN v8 v ON v.j = q.i
         |GROUP BY 1""".stripMargin,
    "q71_ann_ivf" -> {
      val dim = Similarity.defaultDim
      def sq(a: String, b: String) = OracleSql.sqDistSql(dim, a, b)
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |${OracleSql.lloydChain(dim, 16, 2)},
         |probed AS (
         |  SELECT qid, qv, qn2, cell FROM (
         |    SELECT q.vec_id AS qid, q.v AS qv, q.n2 AS qn2, c.cell,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${sq("q.v", "c.c")}, c.cell) AS rk
         |    FROM n q, c2 c WHERE q.vec_id < 10) WHERE rk <= 4),
         |scored AS (
         |  SELECT p.qid, a.vec_id AS neighbor_id,
         |         round(list_dot_product(p.qv, a.v)
         |               / (sqrt(p.qn2) * sqrt(a.n2)), 4) AS cos
         |  FROM probed p JOIN af a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.qid)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |WHERE rank <= 5""".stripMargin
    },
    // PQ oracle: the per-subspace Lloyd chain (shared pqChain
    // builder), codes from the final assignment, the per-query ADC
    // table against the exact query subvectors, and the j-ordered
    // left fold of the m table entries — every stage re-derived.
    "q162_ann_pq" -> {
      val dim = Similarity.defaultDim
      val (m, ksub, sub) = (4, 16, Similarity.defaultDim / 4)
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${OracleSql.pqChain(dim, m, ksub, 2)},
         |qd AS (
         |  SELECT q.vec_id AS qid, c.j, c.cell,
         |         ${OracleSql.sqDistSql(sub,
                     s"q.v[(c.j*$sub+1):(c.j*$sub+$sub)]", "c.c")} AS d
         |  FROM e q, pc2 c WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT q.qid, a.vec_id AS neighbor_id,
         |         round(list_reduce(
         |           list_prepend(CAST(0 AS DOUBLE), list(q.d ORDER BY q.j)),
         |           (x, y) -> x + y), 4) AS approx_d
         |  FROM paf a JOIN qd q ON a.j = q.j AND a.cell = q.cell
         |  WHERE a.vec_id <> q.qid
         |  GROUP BY q.qid, a.vec_id),
         |shortlist AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY approx_d, neighbor_id) AS srank FROM scored)
         |  WHERE srank <= 64),
         |refined AS (
         |  SELECT s.qid, s.neighbor_id,
         |         round(${OracleSql.sqDistSql(dim, "q.v", "x.v")}, 4)
         |           AS exact_d
         |  FROM shortlist s
         |  JOIN e q ON s.qid = q.vec_id
         |  JOIN e x ON s.neighbor_id = x.vec_id)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id, exact_d
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY exact_d, neighbor_id) AS rank FROM refined)
         |WHERE rank <= 5""".stripMargin
    },
    // BM25 oracle: postings, df, corpus stats, the every-101st-doc
    // query sets, the exact Okapi sum, and the rounded-score ranking
    // all re-derived. Parameter literals are built by the SAME IEEE
    // ops as the engine (1.2 + 1, 1 - 0.75), so both sides score with
    // bit-identical constants.
    "q165_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, n_terms,
         |       CAST(score AS REAL) AS score
         |FROM sparse
         |WHERE rank <= 10""".stripMargin,
    // The same postings/query CTEs with collection-frequency and
    // total-token stats, Zhai's matched-term + length-term split,
    // round-4 before the (score desc, doc_id) ranking.
    "q304_ql_dirichlet" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM toks)
        |  GROUP BY 1, 2, 3),
        |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
        |       FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(sum(len(w)) AS BIGINT) AS tot FROM toks),
        |qterms AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id, unnest(w[1:6]) AS term
        |    FROM toks WHERE doc_id % 101 = 0)),
        |nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nq
        |       FROM qterms GROUP BY 1),
        |scored AS (
        |  SELECT qterms.query_id, tf.doc_id, tf.dl,
        |         CAST(count(*) AS INTEGER) AS n_terms,
        |         sum(ln(1.0 + tf.tf
        |           / (100.0 * (CAST(c.cf AS DOUBLE) / s.tot)))) AS s1
        |  FROM tf JOIN qterms ON tf.term = qterms.term
        |  JOIN cf c ON c.term = tf.term
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2, 3),
        |fin AS (
        |  SELECT scored.query_id, doc_id, n_terms,
        |         round(s1 + nq.nq * ln(100.0 / (dl + 100.0)), 4)
        |           AS score
        |  FROM scored JOIN nq ON nq.query_id = scored.query_id),
        |sparse AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank FROM fin)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id,
        |       n_terms, CAST(score AS REAL) AS score
        |FROM sparse WHERE rank <= 10""".stripMargin,
    // The eval replayed over the same bm25 CTE block: identical
    // integer DCG weight literals (generated by the same Scala call
    // that built the plan), 2^rel−1 gains via bit shift, ideal order
    // by (gain desc, doc_id), one IEEE division per shipped float.
    // The same corpus-wide >= 3-term relevance recount off the shared
    // postings CTEs, the same integer (1e6*c)//r AP fixed point.
    "q330_ap_at_k" ->
      s"""WITH $bm25Ctes,
         |dt AS (SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(w) AS term FROM toks) u),
         |relall AS (
         |  SELECT q.query_id, dt.doc_id, count(*) AS nm
         |  FROM dt JOIN qterms q USING (term)
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |rc AS (SELECT query_id, CAST(count(*) AS BIGINT)
         |         AS n_rel_corpus FROM relall GROUP BY 1),
         |lst AS (SELECT query_id, rank,
         |          CASE WHEN n_terms >= 3 THEN 1 ELSE 0 END AS rel
         |        FROM sparse WHERE rank <= 10),
         |cum AS (SELECT *, CAST(sum(rel) OVER (PARTITION BY query_id
         |          ORDER BY rank) AS BIGINT) AS c FROM lst),
         |per AS (SELECT query_id,
         |          CAST(sum(rel) AS INTEGER) AS n_rel_at_k,
         |          CAST(sum(rel * ((1000000 * c) // rank)) AS BIGINT)
         |            AS apn
         |        FROM cum GROUP BY 1)
         |SELECT p.query_id,
         |  coalesce(r.n_rel_corpus, 0) AS n_rel_corpus, p.n_rel_at_k,
         |  CAST(floor(CAST(p.n_rel_at_k AS DOUBLE) / 10 * 1e6 + 0.5)
         |    / 1e6 AS REAL) AS p_at_k,
         |  CAST(CASE WHEN r.n_rel_corpus > 0 THEN
         |    floor(CAST(p.n_rel_at_k AS DOUBLE) / r.n_rel_corpus
         |      * 1e6 + 0.5) / 1e6 END AS REAL) AS recall_at_k,
         |  CAST(CASE WHEN r.n_rel_corpus > 0 THEN
         |    CAST(p.apn // least(r.n_rel_corpus, 10) AS DOUBLE) / 1e6
         |  END AS REAL) AS ap_at_k
         |FROM per p LEFT JOIN rc r USING (query_id)""".stripMargin,

    "q253_retrieval_eval" -> {
      val w = Retrieval.dcgWeights(10)
        .zipWithIndex.map { case (wt, i) => s"(${i + 1}, ${wt})" }
        .mkString(", ")
      s"""WITH $bm25Ctes,
         |wts AS (SELECT * FROM (VALUES $w) AS t(r, wt)),
         |rl AS (SELECT query_id, rank, doc_id, n_terms
         |       FROM sparse WHERE rank <= 10),
         |g AS (SELECT query_id, rank, doc_id,
         |             (CAST(1 AS BIGINT) << n_terms) - 1 AS gain
         |      FROM rl),
         |ig AS (SELECT query_id, gain,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY gain DESC, doc_id) AS irank
         |       FROM g),
         |per AS (
         |  SELECT g.query_id,
         |         CAST(count(*) AS INTEGER) AS n_ret,
         |         CAST(max(CASE WHEN g.doc_id = g.query_id
         |                       THEN g.rank END) AS INTEGER) AS sr,
         |         CAST(sum(w1.wt * g.gain) AS BIGINT) AS dcg
         |  FROM g JOIN wts w1 ON w1.r = g.rank
         |  GROUP BY 1),
         |iper AS (
         |  SELECT ig.query_id,
         |         CAST(sum(w2.wt * ig.gain) AS BIGINT) AS idcg
         |  FROM ig JOIN wts w2 ON w2.r = ig.irank
         |  GROUP BY 1)
         |SELECT p.query_id, p.n_ret,
         |       coalesce(p.sr, -1) AS self_rank,
         |       CAST(CASE WHEN p.sr IS NOT NULL
         |            THEN floor(CAST(1 AS DOUBLE) / p.sr * 1e6 + 0.5) / 1e6
         |            END AS REAL) AS rr,
         |       p.dcg, i.idcg,
         |       CAST(CASE WHEN i.idcg > 0
         |            THEN floor(CAST(p.dcg AS DOUBLE)
         |                 / CAST(i.idcg AS DOUBLE) * 1e6 + 0.5) / 1e6
         |            END AS REAL) AS ndcg
         |FROM per p JOIN iper i USING (query_id)""".stripMargin
    },
    // The greedy rounds unrolled: same integer normalization, same
    // distinct-shingle Jaccard, struct-min argmax (−mmr, doc_id),
    // per-round state MATERIALIZED.
    "q260_mmr" -> {
      val rounds = (1 to 5).map { t =>
        s"""pk$t AS MATERIALIZED (
           |  SELECT query_id,
           |         min(struct_pack(nm := -(7 * rel - 3 * ms),
           |                         d := doc_id)) AS p
           |  FROM u${t - 1} GROUP BY 1),
           |pt$t AS (SELECT query_id,
           |                struct_extract(p, 'd') AS pd,
           |                -struct_extract(p, 'nm') AS pmmr
           |         FROM pk$t),
           |u$t AS MATERIALIZED (
           |  SELECT u.query_id, u.doc_id, u.rel,
           |         greatest(u.ms, coalesce(s.sim, CAST(0 AS BIGINT)))
           |           AS ms
           |  FROM u${t - 1} u
           |  JOIN pt$t p ON u.query_id = p.query_id
           |  LEFT JOIN sims s ON s.query_id = u.query_id
           |   AND s.da = u.doc_id AND s.db = p.pd
           |  WHERE u.doc_id <> p.pd)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 5).map { t =>
        s"""SELECT query_id, CAST($t AS INTEGER) AS pick_rank,
           |       pd AS doc_id, CAST(pmmr AS BIGINT) AS mmr_fp
           |FROM pt$t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bm25Ctes,
         |cand AS MATERIALIZED (
         |  SELECT query_id, doc_id,
         |         CAST(floor(score * 1e4 + 0.5) AS BIGINT) AS r0
         |  FROM sparse WHERE rank <= 10),
         |bounds AS (SELECT query_id, min(r0) AS rmin, max(r0) AS rmax
         |           FROM cand GROUP BY 1),
         |candn AS MATERIALIZED (
         |  SELECT c.query_id, c.doc_id,
         |         CASE WHEN b.rmax > b.rmin
         |              THEN (10000 * (c.r0 - b.rmin)) // (b.rmax - b.rmin)
         |              ELSE CAST(10000 AS BIGINT) END AS rel
         |  FROM cand c JOIN bounds b ON c.query_id = b.query_id),
         |cd AS (SELECT DISTINCT doc_id FROM cand),
         |sh AS MATERIALIZED (
         |  SELECT DISTINCT t.doc_id,
         |         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
         |  FROM (SELECT toks.doc_id, w, unnest(range(1, len(w) - 1)) AS i
         |        FROM toks JOIN cd ON toks.doc_id = cd.doc_id) t
         |  WHERE i + 2 <= len(w)),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.query_id, a.doc_id AS da, b.doc_id AS db
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id
         |   AND a.doc_id <> b.doc_id),
         |inter AS (
         |  SELECT p.query_id, p.da, p.db, count(*) AS ni
         |  FROM pairs p JOIN sh x ON x.doc_id = p.da
         |  JOIN sh y ON y.doc_id = p.db AND y.sh = x.sh
         |  GROUP BY 1, 2, 3),
         |sims AS MATERIALIZED (
         |  SELECT p.query_id, p.da, p.db,
         |         (10000 * coalesce(i.ni, 0))
         |           // (sa.nsh + sb.nsh - coalesce(i.ni, 0)) AS sim
         |  FROM pairs p
         |  LEFT JOIN inter i ON i.query_id = p.query_id
         |   AND i.da = p.da AND i.db = p.db
         |  JOIN sizes sa ON sa.doc_id = p.da
         |  JOIN sizes sb ON sb.doc_id = p.db),
         |u0 AS MATERIALIZED (
         |  SELECT query_id, doc_id, rel, CAST(0 AS BIGINT) AS ms
         |  FROM candn),
         |$rounds
         |$out""".stripMargin
    },
    // Adjacent pairs via 1-based list indexing over range(1, len);
    // marginals/total from the bigram table itself; same fixed IEEE
    // ratio order and floor rounding.
    "q233_collocations" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |bi AS (
        |  SELECT w[i] AS a, w[i + 1] AS b FROM (
        |    SELECT w, unnest(range(1, len(w))) AS i
        |    FROM toks WHERE len(w) >= 2)),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        |        FROM bi GROUP BY 1, 2),
        |cl AS (SELECT a, CAST(sum(c) AS BIGINT) AS cl FROM cab GROUP BY 1),
        |cr AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM cab GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cab)
        |SELECT a, b, c AS n_ab,
        |       CAST(floor(ln(CAST(n.n AS DOUBLE) * c
        |           / (CAST(cl.cl AS DOUBLE) * cr.cr)) * 1e6 + 0.5) / 1e6
        |         AS REAL) AS pmi
        |FROM cab JOIN cl USING (a) JOIN cr USING (b), n
        |WHERE c >= 5
        |ORDER BY pmi DESC, a, b
        |LIMIT 50""".stripMargin,
    // RRF: both top-10 lists re-derived from their shared CTE blocks,
    // fused with exact 1/(60+rank) arithmetic in the same fixed
    // order (sparse term + dense term) the engine uses.
    "q225_rrf_hybrid" ->
      s"""WITH $bm25Ctes,
         |${annCosineCtes("qv.vec_id % 101 = 0")},
         |sp AS (
         |  SELECT query_id, doc_id, rank FROM sparse
         |  WHERE rank <= 10 AND doc_id <> query_id),
         |de AS (
         |  SELECT qid AS query_id, neighbor_id AS doc_id, rank
         |  FROM dense WHERE rank <= 10),
         |fused AS (
         |  SELECT coalesce(sp.query_id, de.query_id) AS query_id,
         |         coalesce(sp.doc_id, de.doc_id) AS doc_id,
         |         sp.rank AS rank_sparse, de.rank AS rank_dense,
         |         coalesce(CAST(1 AS DOUBLE) / (60 + sp.rank), 0)
         |           + coalesce(CAST(1 AS DOUBLE) / (60 + de.rank), 0)
         |           AS rrf
         |  FROM sp FULL OUTER JOIN de
         |    ON sp.query_id = de.query_id AND sp.doc_id = de.doc_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id,
         |       CAST(rank_sparse AS INTEGER) AS rank_sparse,
         |       CAST(rank_dense AS INTEGER) AS rank_dense,
         |       CAST(floor(rrf * 1e6 + 0.5) / 1e6 AS REAL) AS rrf
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf DESC, doc_id) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin,
    // The synthetic PCM stream and every feature re-derived as exact
    // integers — energy/peak/crossings have no float edge at all.
    "q176_wav_features" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(64 + doc_id % 64 AS INTEGER) AS ns
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(t.i AS INTEGER) AS i,
        |         CAST((doc_id * 13 + t.i * 17) % 2048 - 1024 AS BIGINT) AS x
        |  FROM d, range(0, 128) t(i) WHERE t.i < ns),
        |w AS (
        |  SELECT doc_id, CAST(i // 32 AS INTEGER) AS win, i, x,
        |         lag(x) OVER (PARTITION BY doc_id, i // 32 ORDER BY i)
        |           AS prev
        |  FROM s)
        |SELECT doc_id, win,
        |       CAST(count(*) AS INTEGER) AS n,
        |       CAST(sum(x * x) AS BIGINT) AS energy,
        |       CAST(max(abs(x)) AS INTEGER) AS peak,
        |       CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
        |              AND (prev >= 0) <> (x >= 0) THEN 1 ELSE 0 END), 0)
        |            AS INTEGER) AS zero_cross,
        |       CAST(8000 AS INTEGER) AS sample_rate
        |FROM w GROUP BY 1, 2""".stripMargin,
    // CDC: gram hash (winnow's md5 word), boundary rule, prior-cut
    // cumsum, ordered reassembly digest, and chunk df all re-derived.
    "q179_cdc_chunks" ->
      s"""WITH $cdcChunkCtes,
         |dfq AS (SELECT dig, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |SELECT ch.doc_id, ch.chunk_idx, ch.start, ch.n_tokens, ch.dig,
         |       dfq.df
         |FROM ch JOIN dfq USING (dig)""".stripMargin,
    // Day-2 CDC novelty: the same chunk CTEs, the standing corpus
    // reduced to a distinct digest set, membership + per-doc ratio.
    "q182_cdc_novelty" ->
      s"""WITH $cdcChunkCtes,
         |olddig AS (
         |  SELECT DISTINCT dig, TRUE AS known FROM ch WHERE doc_id % 3 <> 0),
         |agg AS (
         |  SELECT ch.doc_id,
         |         CAST(count(*) AS INTEGER) AS n_chunks,
         |         CAST(sum(CASE WHEN coalesce(known, FALSE) THEN 0 ELSE 1 END)
         |              AS INTEGER) AS n_novel
         |  FROM ch LEFT JOIN olddig USING (dig)
         |  WHERE ch.doc_id % 3 = 0
         |  GROUP BY 1)
         |SELECT doc_id, n_chunks, n_novel,
         |       CAST(round(CAST(n_novel AS DOUBLE) / n_chunks, 4) AS REAL)
         |         AS novel_ratio
         |FROM agg""".stripMargin,
    // SemDeDup oracle: the SAME Lloyd chain as q71 (shared CTE
    // builder), then within-cell a<b pairs at rounded cosine ≥ 0.35
    // and the lowest-id-survives verdict — clustering, pairing, and
    // keeper rule all re-derived.
    "q139_semdedup" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
         |${OracleSql.lloydChain(Similarity.defaultDim, 16, 2)},
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE a.n2 > 0 AND b.n2 > 0
         |    AND round(list_dot_product(a.v, b.v)
         |              / (sqrt(a.n2) * sqrt(b.n2)), 4) >= 0.35)
         |SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
         |FROM af a LEFT JOIN dups d ON a.vec_id = d.vec_id""".stripMargin,
    // Hard-negative oracle: q68's exact ranking with the label
    // exclusion in the pair predicate.
    "q141_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |             list_dot_product(v, v) AS n2 FROM e),
        |p AS (
        |  SELECT q.vec_id AS qid, x.vec_id AS neighbor_id,
        |         x.label AS neg_label,
        |         round(list_dot_product(q.v, x.v)
        |               / (sqrt(q.n2) * sqrt(x.n2)), 4) AS cos
        |  FROM n q JOIN n x
        |    ON q.vec_id < 10 AND x.vec_id <> q.vec_id
        |   AND x.label <> q.label)
        |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |       neg_label, cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY cos DESC, neighbor_id) AS rank FROM p)
        |WHERE rank <= 5""".stripMargin,
    // Character-entropy oracle: per-code-point histogram (substr
    // indexing is code-point based in both engines) and the
    // log2(n) − Σ k·log2(k)/n identity, REAL-cast at the edge.
    "q142_char_entropy" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |ch AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(length(text)),
        |                i -> substr(text, CAST(i AS INT) + 1, 1))) AS c
        |  FROM d),
        |h AS (SELECT doc_id, lang, c, count(*) AS k
        |      FROM ch GROUP BY 1, 2, 3)
        |SELECT doc_id, lang,
        |       CAST(sum(k) AS INTEGER) AS n_chars_counted,
        |       CAST(count(*) AS INTEGER) AS n_distinct_chars,
        |       CAST(round(log2(sum(k))
        |              - sum(k * log2(k)) / sum(k), 4) AS REAL) AS entropy
        |FROM h GROUP BY 1, 2""".stripMargin,
    // Containment oracle: same shingle CTEs as q64, the df cap, the
    // capped intersection counts, and both directed ratios + the
    // either-direction threshold verdict re-derived. The delta twin
    // is the same derivation filtered to involving-new (the q137
    // one-line-filter contract).
    "q146_containment" -> containmentOracle(),
    "q147_containment_delta" ->
      containmentOracle(extraWhere = "\n  AND (da % 3 = 0 OR db % 3 = 0)"),
    // Identical-answer contract: q156 shares q147's oracle verbatim.
    "q156_containment_delta_bloom" ->
      containmentOracle(extraWhere = "\n  AND (da % 3 = 0 OR db % 3 = 0)"),
    // BPE oracles: the full training loop unrolled — word-frequency
    // init, then per round the pair count, the (cnt DESC, lhs, rhs)
    // argmax, and the space-sentinel leftmost-first replace (DuckDB's
    // literal replace is non-overlapping left-to-right, exactly
    // Spark's — BPE's greedy application order).
    "q143_bpe_merges" ->
      (bpeChain(8) + "\n" + (1 to 8).map(r =>
        s"SELECT rank, lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM b$r")
        .mkString("\nUNION ALL\n")),
    "q144_bpe_vocab" ->
      (bpeChain(8) +
        "\nSELECT word, freq, trim(sym) AS sym FROM w9"),
    "q262_wp_merges" ->
      (wpChain(8) + "\n" + (1 to 8).map(r =>
        s"SELECT rank, lhs, rhs, cnt, score_fp FROM b$r")
        .mkString("\nUNION ALL\n")),
    "q263_wp_vocab" ->
      (wpChain(8) +
        "\nSELECT word, freq, trim(sym) AS sym FROM w9"),
    "q145_bpe_encode" ->
      (bpeChain(8) + """,
        |dw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(trim(text)) > 0)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
        |       CAST(sum(len(string_split(trim(w9.sym), ' ')))
        |         AS INTEGER) AS n_bpe_tokens
        |FROM dw JOIN w9 USING (word) GROUP BY 1""".stripMargin),
    // FastCDC byte walk replayed: candidates set-wise (the fixture is
    // pure ASCII, so char offsets ARE byte offsets), the min/max
    // normalization as a recursive cut-to-cut walk — next cut =
    // least(first candidate ≥ minLen after the last cut, last+maxLen,
    // n). Chunk digests re-derived from the same substrings.
    "q240_fastcdc_dedup" ->
      s"""WITH RECURSIVE dd AS (
         |  SELECT doc_id, text, length(text) AS n FROM documents
         |  WHERE text IS NOT NULL),
         |pos AS (
         |  SELECT doc_id, CAST(unnest(range(16, n + 1)) AS INTEGER) AS p
         |  FROM dd),
         |cand AS MATERIALIZED (
         |  SELECT doc_id, p FROM (
         |    SELECT pos.doc_id, pos.p,
         |           ${OracleSql.md5Int48(
                       "md5(substring(dd.text, pos.p - 15, 16))")} AS h
         |    FROM pos JOIN dd USING (doc_id))
         |  WHERE h % 64 = 0),
         |-- next candidate at-or-after every position (reverse running
         |-- min), so the recursive walk is a plain JOIN per step — a
         |-- correlated min over cand would be re-evaluated per step
         |-- (and DuckDB 1.0 silently NULLs a correlated subquery over
         |-- a MATERIALIZED CTE inside a recursive term)
         |nxt AS MATERIALIZED (
         |  SELECT dd.doc_id, p.p,
         |         min(CASE WHEN c.p IS NOT NULL THEN p.p END)
         |           OVER (PARTITION BY dd.doc_id ORDER BY p.p DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW) AS nc
         |  FROM dd
         |  JOIN (SELECT doc_id, CAST(unnest(range(1, n + 1)) AS INTEGER)
         |          AS p FROM dd) p USING (doc_id)
         |  LEFT JOIN cand c ON c.doc_id = dd.doc_id AND c.p = p.p),
         |walk(doc_id, n, cutp) AS (
         |  SELECT doc_id, n, 0 FROM dd WHERE n > 0
         |  UNION ALL
         |  SELECT w.doc_id, w.n,
         |         CASE WHEN w.cutp + 24 > w.n THEN w.n
         |              ELSE least(coalesce(nx.nc, w.cutp + 128),
         |                         w.cutp + 128, w.n) END
         |  FROM walk w LEFT JOIN nxt nx
         |    ON nx.doc_id = w.doc_id AND nx.p = w.cutp + 24
         |  WHERE w.cutp < w.n),
         |ch AS MATERIALIZED (
         |  SELECT doc_id, cutp AS endp,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY cutp) - 1 AS INTEGER) AS chunk_idx,
         |         CAST(coalesce(lag(cutp) OVER (PARTITION BY doc_id
         |           ORDER BY cutp), 0) + 1 AS INTEGER) AS start
         |  FROM walk WHERE cutp > 0),
         |dg AS MATERIALIZED (
         |  SELECT c.doc_id, c.chunk_idx, c.start,
         |         CAST(c.endp - c.start + 1 AS INTEGER) AS n_bytes,
         |         md5(substring(dd.text, c.start, c.endp - c.start + 1))
         |           AS dig
         |  FROM ch c JOIN dd USING (doc_id)),
         |dfq AS (SELECT dig, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM dg GROUP BY 1)
         |SELECT g.doc_id, g.chunk_idx, g.start, g.n_bytes, g.dig, dfq.df
         |FROM dg g JOIN dfq USING (dig)""".stripMargin,
    // The aHash chain replayed arithmetically over the same synthetic
    // image family — channels, noise, grayscale, grid, bits.
    "q244_image_ahash" ->
      s"""WITH ${imageAHashCtes(materializeF = false)}
         |SELECT doc_id, ahash FROM f""".stripMargin,
    // The shared grayscale grid, one kpos self-join for the
    // wrap-closed horizontal neighbor, the strict < gradient bit.
    "q301_image_dhash" ->
      s"""WITH $imageGrayCtes,
         |g8 AS (SELECT c.doc_id, c.j * 8 + c.i AS kpos, g.g
         |       FROM (SELECT doc_id, CAST(i AS INTEGER) AS i,
         |               CAST(j AS INTEGER) AS j,
         |               CAST((i * 16) // 8 AS INTEGER) AS sx,
         |               CAST((j * 12) // 8 AS INTEGER) AS sy
         |             FROM d, range(8) ti(i), range(8) tj(j)) c
         |       JOIN gr g ON g.doc_id = c.doc_id AND g.x = c.sx
         |        AND g.y = c.sy),
         |bt AS (SELECT a.doc_id, a.kpos,
         |         CASE WHEN a.g < b.g THEN '1' ELSE '0' END AS b
         |       FROM g8 a JOIN g8 b ON b.doc_id = a.doc_id
         |        AND b.kpos = (a.kpos // 8) * 8
         |              + (a.kpos % 8 + 1) % 8)
         |SELECT doc_id, string_agg(b, '' ORDER BY kpos) AS dhash
         |FROM bt GROUP BY 1""".stripMargin,
    // Naive all-pairs Hamming over the bit strings (the q119 oracle
    // pattern) — the banded join must reproduce it exactly at ≤ 3.
    "q245_image_ahash_pairs" ->
      s"""WITH ${imageAHashCtes(materializeF = true)},
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> CASE WHEN substr(a.ahash, CAST(i AS INT), 1)
         |                       <> substr(b.ahash, CAST(i AS INT), 1)
         |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id)
         |SELECT da, db, hamming FROM p WHERE hamming <= 3""".stripMargin,
    // The shared gray CTEs + a 3x3 neighbor join with the Sobel
    // weights as CASE-free integer products dx*(2-|dy|) / dy*(2-|dx|)
    // — every feature an exact integer.
    "q336_sobel_features" ->
      s"""WITH $imageGrayCtes,
         |nb AS (SELECT a.doc_id, a.x, a.y,
         |         CAST(sum(b.g * (b.x - a.x) * (2 - abs(b.y - a.y)))
         |           AS BIGINT) AS gx,
         |         CAST(sum(b.g * (b.y - a.y) * (2 - abs(b.x - a.x)))
         |           AS BIGINT) AS gy
         |       FROM gr a JOIN gr b ON b.doc_id = a.doc_id
         |         AND abs(b.x - a.x) <= 1 AND abs(b.y - a.y) <= 1
         |       WHERE a.x BETWEEN 1 AND 14 AND a.y BETWEEN 1 AND 10
         |       GROUP BY 1, 2, 3),
         |m AS (SELECT doc_id, abs(gx) + abs(gy) AS mg FROM nb)
         |SELECT doc_id, CAST(16 AS INTEGER) AS w,
         |  CAST(12 AS INTEGER) AS h,
         |  CAST(count(*) AS INTEGER) AS n_interior,
         |  CAST(sum(mg) AS BIGINT) AS edge_energy,
         |  CAST(sum(CASE WHEN mg >= 128 THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_edges,
         |  CAST(max(mg) AS INTEGER) AS max_grad
         |FROM m GROUP BY 1""".stripMargin,
    // The shared gray CTEs binned div 16, counts pivoted to named
    // columns, the same fixed entropy unroll with the ln16 literal.
    "q374_image_entropy" -> {
      val bins = (0 until 16).map(i =>
        s"""CAST(sum(CASE WHEN bin = $i THEN c ELSE 0 END) AS BIGINT)
           |           AS b$i""".stripMargin).mkString(",\n         ")
      val terms = (0 until 16).map(i =>
        s"""(CASE WHEN b$i > 0 THEN
           |    -((CAST(b$i AS DOUBLE) / CAST(n_pixels AS DOUBLE))
           |      * ln(CAST(b$i AS DOUBLE) / CAST(n_pixels AS DOUBLE)))
           |    ELSE CAST(0 AS DOUBLE) END)""".stripMargin)
        .mkString("\n   + ")
      s"""WITH $imageGrayCtes,
         |hb AS (SELECT doc_id, CAST(g // 16 AS INTEGER) AS bin,
         |         count(*) AS c FROM gr GROUP BY 1, 2),
         |np AS (SELECT doc_id, CAST(sum(c) AS INTEGER) AS n_pixels
         |       FROM hb GROUP BY 1),
         |w2 AS (SELECT doc_id,
         |         $bins
         |       FROM hb GROUP BY 1)
         |SELECT w2.doc_id, np.n_pixels,
         |  CAST(round((
         |   $terms
         |   ) / 2.772588722239781, 4) AS REAL) AS entropy_norm
         |FROM w2 JOIN np USING (doc_id)""".stripMargin
    },
    // The q176 window CTEs re-grouped: per-window energies, per-doc
    // totals, the integer cross-multiply silence rule.
    "q375_audio_silence" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(64 + doc_id % 64 AS INTEGER) AS ns
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(t.i AS INTEGER) AS i,
        |         CAST((doc_id * 13 + t.i * 17) % 2048 - 1024 AS BIGINT)
        |           AS x
        |  FROM d, range(0, 128) t(i) WHERE t.i < ns),
        |wf AS (SELECT doc_id, CAST(i // 32 AS INTEGER) AS win,
        |         CAST(sum(x * x) AS BIGINT) AS energy
        |       FROM s GROUP BY 1, 2),
        |t AS (SELECT doc_id, count(*) AS n_windows,
        |        sum(energy) AS tot_e FROM wf GROUP BY 1)
        |SELECT wf.doc_id, CAST(t.n_windows AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN wf.energy * t.n_windows * 4 < t.tot_e
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
        |  CAST(round(CAST(sum(CASE WHEN wf.energy * t.n_windows * 4
        |      < t.tot_e THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(t.n_windows AS DOUBLE), 4) AS REAL) AS silence_ratio
        |FROM wf JOIN t USING (doc_id)
        |GROUP BY wf.doc_id, t.n_windows""".stripMargin,
    // The PCA quantization CTE, exact Σq² per vector, z off exact
    // moments.
    "q376_embedding_norms" ->
      s"""WITH ${graft.llm.Pca.oracleQuantCte},
         |per AS (SELECT vec_id, sum(CAST(q AS HUGEINT) * q) AS n2
         |        FROM q GROUP BY 1),
         |m AS (SELECT count(*) AS n, CAST(sum(n2) AS DOUBLE) AS s,
         |        CAST(sum(n2 * n2) AS DOUBLE) AS ss FROM per),
         |g AS (SELECT s / CAST(n AS DOUBLE) AS mu,
         |        sqrt((CAST(n AS DOUBLE) * ss - s * s)
         |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd
         |      FROM m)
         |SELECT vec_id,
         |  CAST(round(sqrt(CAST(n2 AS DOUBLE)) / 10000.0, 4) AS REAL)
         |    AS norm,
         |  CAST(round(CASE WHEN sd <> 0
         |    THEN (CAST(n2 AS DOUBLE) - mu) / sd END, 4) AS REAL) AS z,
         |  abs(CASE WHEN sd <> 0
         |    THEN (CAST(n2 AS DOUBLE) - mu) / sd END) > 3.0 AS outlier
         |FROM per, g""".stripMargin,
    // The DCT chain replayed arithmetically — shared gray CTEs, the
    // inlined integer basis tables, coefficient sums, median rank 32.
    "q275_image_phash" ->
      s"""WITH ${imagePHashCtes(materializeF = false)}
         |SELECT doc_id, phash FROM ph""".stripMargin,
    // Naive all-pairs Hamming over the pHash bit strings (the q245
    // oracle pattern) — the banded join must reproduce it at ≤ 3.
    "q276_phash_pairs" ->
      s"""WITH ${imagePHashCtes(materializeF = true)},
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> CASE WHEN substr(a.phash, CAST(i AS INT), 1)
         |                       <> substr(b.phash, CAST(i AS INT), 1)
         |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
         |SELECT da, db, hamming FROM p WHERE hamming <= 3""".stripMargin,
    // The detector re-derived (q63's CTEs), the confusion matrix,
    // exact margin products, the same chance-corrected κ.
    "q289_label_agreement" ->
      s"""WITH $tokCte,
         |sc AS (
         |$langScoreUnion),
         |pr AS (SELECT doc_id, lang AS predicted FROM (
         |         SELECT *, row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, lang) AS rn FROM sc)
         |       WHERE rn = 1),
         |dc AS (SELECT doc_id, lang AS declared FROM documents
         |       WHERE text IS NOT NULL AND lang IS NOT NULL),
         |cells AS MATERIALIZED (
         |  SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n
         |  FROM dc JOIN pr USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
         |ag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS na
         |       FROM cells WHERE declared = predicted),
         |rws AS (SELECT declared AS l, sum(n) AS rn_ FROM cells
         |        GROUP BY 1),
         |cls AS (SELECT predicted AS l, sum(n) AS cn_ FROM cells
         |        GROUP BY 1),
         |pen AS (SELECT coalesce(sum(CAST(rn_ AS HUGEINT) * cn_), 0)
         |          AS pen FROM rws JOIN cls USING (l)),
         |sm AS (SELECT nn, na,
         |              CAST(na AS DOUBLE) / nn AS po,
         |              CAST(pen AS DOUBLE)
         |                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
         |                AS pe
         |       FROM tot, ag, pen)
         |SELECT c.declared, c.predicted, c.n, sm.nn AS n_total,
         |       CAST(floor(po * 1e6 + 0.5) / 1e6 AS REAL) AS po,
         |       CAST(floor(pe * 1e6 + 0.5) / 1e6 AS REAL) AS pe,
         |       CASE WHEN pe < 1 THEN
         |         CAST(floor((po - pe) / (1 - pe) * 1e6 + 0.5) / 1e6
         |           AS REAL)
         |       END AS kappa
         |FROM cells c, sm""".stripMargin,
    // The q276 pair table closed by recursive min-label reachability
    // (the q229 derivation) over the pHash fingerprints.
    "q283_image_dup_clusters" ->
      s"""WITH RECURSIVE ${imagePHashCtes(materializeF = true)},
         |p AS MATERIALIZED (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(range(1, 65),
         |          i -> CASE WHEN substr(a.phash, CAST(i AS INT), 1)
         |                      <> substr(b.phash, CAST(i AS INT), 1)
         |               THEN 1 ELSE 0 END)) <= 3),
         |edges AS MATERIALIZED (
         |  SELECT da AS src, db AS dst FROM p
         |  UNION ALL SELECT db, da FROM p),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e ON e.src = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach
         |       GROUP BY 1),
         |cs AS (SELECT cluster, CAST(count(*) AS INTEGER)
         |         AS cluster_size FROM cc GROUP BY 1)
         |SELECT c.doc_id, c.cluster, s.cluster_size,
         |       c.doc_id = c.cluster AS is_canonical
         |FROM cc c JOIN cs s USING (cluster)""".stripMargin,
    // q276's naive all-pairs scan with the delta membership filter.
    "q284_phash_delta" ->
      s"""WITH ${imagePHashCtes(materializeF = true)},
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> CASE WHEN substr(a.phash, CAST(i AS INT), 1)
         |                       <> substr(b.phash, CAST(i AS INT), 1)
         |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
         |SELECT da, db, hamming FROM p
         |WHERE hamming <= 3 AND (da % 3 = 0 OR db % 3 = 0)""".stripMargin,
    // Sawtooth samples, frame energies, and derivative bits all
    // re-derived arithmetically.
    "q277_audio_fp" ->
      s"""WITH ${audioFpCtes(materializeF = false)}
         |SELECT doc_id, afp FROM afr""".stripMargin,
    // Naive all-pairs Hamming over the audio fingerprints.
    "q278_audio_fp_pairs" ->
      s"""WITH ${audioFpCtes(materializeF = true)},
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> CASE WHEN substr(a.afp, CAST(i AS INT), 1)
         |                       <> substr(b.afp, CAST(i AS INT), 1)
         |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
         |  FROM afr a JOIN afr b ON a.doc_id < b.doc_id)
         |SELECT da, db, hamming FROM p WHERE hamming <= 3""".stripMargin,
    // The q278 pair table closed by recursive min-label reachability
    // (the q283 derivation) over the audio fingerprints.
    "q291_audio_dup_clusters" ->
      s"""WITH RECURSIVE ${audioFpCtes(materializeF = true)},
         |p AS MATERIALIZED (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM afr a JOIN afr b ON a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(range(1, 65),
         |          i -> CASE WHEN substr(a.afp, CAST(i AS INT), 1)
         |                      <> substr(b.afp, CAST(i AS INT), 1)
         |               THEN 1 ELSE 0 END)) <= 3),
         |edges AS MATERIALIZED (
         |  SELECT da AS src, db AS dst FROM p
         |  UNION ALL SELECT db, da FROM p),
         |reach AS (
         |  SELECT doc_id AS v, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e ON e.src = re.v),
         |cc AS (SELECT v AS doc_id, min(r) AS cluster FROM reach
         |       GROUP BY 1),
         |cs AS (SELECT cluster, CAST(count(*) AS INTEGER)
         |         AS cluster_size FROM cc GROUP BY 1)
         |SELECT c.doc_id, c.cluster, s.cluster_size,
         |       c.doc_id = c.cluster AS is_canonical
         |FROM cc c JOIN cs s USING (cluster)""".stripMargin,
    // q278's naive all-pairs scan with the delta membership filter.
    "q292_audio_fp_delta" ->
      s"""WITH ${audioFpCtes(materializeF = true)},
         |p AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |         CAST(list_sum(list_transform(range(1, 65),
         |           i -> CASE WHEN substr(a.afp, CAST(i AS INT), 1)
         |                       <> substr(b.afp, CAST(i AS INT), 1)
         |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
         |  FROM afr a JOIN afr b ON a.doc_id < b.doc_id)
         |SELECT da, db, hamming FROM p
         |WHERE hamming <= 3 AND (da % 3 = 0 OR db % 3 = 0)""".stripMargin,
    // The whole video chain re-derived arithmetically: synthetic
    // frame pixels, integer grayscale, the exact 64·g ≥ Σg aHash bit
    // rule per frame, and the lag-window Hamming jump — no decoder.
    "q293_scene_cuts" ->
      """WITH vd AS (SELECT doc_id,
        |         CAST(6 + doc_id % 4 AS INTEGER) AS nf,
        |         CAST(2 + doc_id % 3 AS INTEGER) AS c
        |       FROM documents),
        |fr AS (SELECT doc_id, c, CAST(f AS INTEGER) AS f
        |       FROM vd, range(9) t(f) WHERE f < nf),
        |sp AS (SELECT doc_id, f,
        |         CAST(x AS INTEGER) AS x, CAST(y AS INTEGER) AS y,
        |         doc_id * 7
        |           + CASE WHEN f >= c THEN (7 - x) * 3 ELSE x * 3 END
        |           + CASE WHEN f >= c THEN (7 - y) * 5 ELSE y * 5 END
        |           + f AS b0
        |       FROM fr, range(8) tx(x), range(8) ty(y)),
        |px AS (SELECT doc_id, f, x, y,
        |         (b0 % 256 + (b0 + 11) % 256 + (b0 + 22) % 256) // 3
        |           AS g
        |       FROM sp),
        |sm AS (SELECT doc_id, f, sum(g) AS s FROM px GROUP BY 1, 2),
        |bt AS (SELECT p.doc_id, p.f, p.y * 8 + p.x AS k,
        |         CASE WHEN 64 * p.g >= sm.s THEN '1' ELSE '0' END AS b
        |       FROM px p JOIN sm ON sm.doc_id = p.doc_id
        |        AND sm.f = p.f),
        |ah AS (SELECT doc_id, f, string_agg(b, '' ORDER BY k) AS h
        |       FROM bt GROUP BY 1, 2),
        |lg AS (SELECT doc_id, f, h,
        |         lag(h) OVER (PARTITION BY doc_id ORDER BY f) AS ph
        |       FROM ah),
        |hm AS (SELECT doc_id, f,
        |         CAST(list_sum(list_transform(range(1, 65),
        |           i -> CASE WHEN substr(h, CAST(i AS INT), 1)
        |                       <> substr(ph, CAST(i AS INT), 1)
        |                THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
        |       FROM lg WHERE ph IS NOT NULL)
        |SELECT doc_id, f AS frame_id, hamming,
        |       hamming >= 16 AS is_cut
        |FROM hm""".stripMargin,
    // Unigram-LM training replayed end-to-end; the engine's Viterbi DP
    // is re-derived as brute enumeration + one argmin (equivalence by
    // extension-monotonicity — see graft.llm.Unigram).
    "q238_unigram_train" ->
      (unigramChain(withFinal = false) +
        "\nSELECT piece, CAST(length(piece) AS INTEGER) AS n_chars, " +
        "cnt FROM pruned"),
    "q239_unigram_segment" ->
      (unigramChain(withFinal = true) + """
        |SELECT word, (b).freq AS freq, CAST((b).np AS INTEGER) AS n_pieces,
        |       array_to_string((b).pieces, ' ') AS seg
        |FROM bestf""".stripMargin),
    // The encode side: q145's doc-join shape over the unigram
    // segmentations (inner join mirrors the maxWordLen exclusion).
    "q242_unigram_encode" ->
      (unigramChain(withFinal = true) + """,
        |dw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(trim(text)) > 0)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
        |       CAST(sum((b).np) AS INTEGER) AS n_pieces
        |FROM dw JOIN bestf USING (word) GROUP BY 1""".stripMargin),
    // Full oracle for the LSH ANN path: the md5-parity hyperplanes are
    // re-derived in SQL (planes → sign-bit buckets → OR-construction
    // candidates → exact cosine → ranked top-k), so the probabilistic
    // operator's ENTIRE pipeline sits under the hash gate — bucketing
    // included — not just a rows-only count.
    "q69_ann_lsh" ->
      s"""WITH $lshBucketCtes,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, x.vec_id AS neighbor_id
         |  FROM buckets q JOIN buckets x
         |    ON q.tbl = x.tbl AND q.bucket = x.bucket
         |  WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id),
         |p2 AS (
         |  SELECT c.qid, c.neighbor_id,
         |         round(list_dot_product(a.v, b.v)
         |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.qid
         |              JOIN n b ON b.vec_id = c.neighbor_id)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, neighbor_id) AS rank FROM p2)
         |WHERE rank <= 5""".stripMargin,
    // Multi-probe: the query's own bucket plus every 1-bit flip of it
    // probes the same bucket table; candidates and scoring re-derived
    // identically to q69's contract.
    "q226_ann_multiprobe" ->
      s"""WITH $lshBucketCtes,
         |probes AS (
         |  SELECT vec_id, tbl,
         |         xor(CAST(bucket AS INTEGER),
         |             CASE WHEN f.i = 0 THEN 0
         |                  ELSE 1 << CAST(f.i - 1 AS INTEGER) END) AS probe
         |  FROM buckets, range(${Similarity.bitsPerTable + 1}) f(i)
         |  WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, x.vec_id AS neighbor_id
         |  FROM probes q JOIN buckets x
         |    ON q.tbl = x.tbl AND q.probe = CAST(x.bucket AS INTEGER)
         |  WHERE x.vec_id <> q.vec_id),
         |p2 AS (
         |  SELECT c.qid, c.neighbor_id,
         |         round(list_dot_product(a.v, b.v)
         |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.qid
         |              JOIN n b ON b.vec_id = c.neighbor_id)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, neighbor_id) AS rank FROM p2)
         |WHERE rank <= 5""".stripMargin,
    // Quantized-ANN oracle: the int8 codes are re-derived in SQL —
    // scale = max|v|/127, code = floor(v/scale + 0.5) (round-half-up,
    // identical IEEE ops in both engines), integer dots, then the only
    // float steps are one divide + two integer square roots.
    "q101_ann_quantized" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (
         |  SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) / 127 AS s
         |  FROM e),
         |q AS (
         |  SELECT vec_id,
         |         list_transform(v, x -> CASE WHEN s = 0 THEN 0
         |           ELSE CAST(floor(x / s + 0.5) AS BIGINT) END) AS qv
         |  FROM sc),
         |n AS (
         |  SELECT vec_id, qv,
         |         list_sum(list_transform(qv, x -> x * x)) AS n2
         |  FROM q WHERE list_sum(list_transform(qv, x -> x * x)) > 0),
         |p AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS neighbor_id,
         |         round(list_sum(list_transform(
         |                 range(1, ${Similarity.defaultDim} + 1),
         |                 i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]))
         |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS qcos
         |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, neighbor_id, qcos
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY qcos DESC, neighbor_id) AS rank FROM p)
         |WHERE rank <= 5""".stripMargin,
    // Bigram conditional likelihoods re-derived: corpus bigram counts,
    // prefix-context totals, ln(c/cw) per bigram, per-doc occurrence-
    // weighted mean. Docs with < 2 tokens keep a row with NULL score.
    "q124_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS g
        |       FROM idx WHERE i + 1 <= len(w)),
        |bc AS (SELECT w1, g, count(*) AS c FROM bi GROUP BY 1, 2),
        |pc AS (SELECT w1, sum(c) AS cw FROM bc GROUP BY 1),
        |p AS (SELECT g, ln(CAST(c AS DOUBLE) / cw) AS lp
        |      FROM bc JOIN pc USING (w1)),
        |sc AS (SELECT b.doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
        |              sum(p.lp) AS slp
        |       FROM bi b JOIN p USING (g) GROUP BY 1)
        |SELECT t.doc_id,
        |       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |       round(sc.slp / sc.n_bigrams, 4) AS avg_logp
        |FROM tok t LEFT JOIN sc USING (doc_id)""".stripMargin,
    // Interpolated Kneser–Ney replayed: the same four model tables
    // from the bigram-type CTE, the same fixed IEEE sequence
    // (discounted MLE term + interpolation weight × continuation).
    "q248_lm_score_kn" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2,
        |              w[i] || ' ' || w[i+1] AS g
        |       FROM idx WHERE i + 1 <= len(w)),
        |bc AS MATERIALIZED (
        |  SELECT w1, w2, g, count(*) AS c FROM bi GROUP BY 1, 2, 3),
        |pc AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw,
        |              CAST(count(*) AS BIGINT) AS t1 FROM bc GROUP BY 1),
        |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS tc FROM bc GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM bc),
        |p AS (SELECT g,
        |        ln(greatest(c - 0.75, 0.0) / cw
        |           + (0.75 * t1 / cw) * (CAST(tc AS DOUBLE) / tot)) AS lp
        |      FROM bc JOIN pc USING (w1) JOIN ct USING (w2) CROSS JOIN tt),
        |sc AS (SELECT b.doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
        |              sum(p.lp) AS slp
        |       FROM bi b JOIN p USING (g) GROUP BY 1)
        |SELECT t.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |       round(sc.slp / sc.n_bigrams, 4) AS avg_logp_kn
        |FROM tok t LEFT JOIN sc USING (doc_id)""".stripMargin,
    // The full three-level KN chain re-derived: trigram counts and
    // context totals, continuation-type tables off the distinct
    // trigram and bigram sets, the same fixed IEEE backoff sequence.
    "q294_lm_score_kn3" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
        |tri AS (SELECT doc_id, w[i] AS u, w[i+1] AS v, w[i+2] AS w3,
        |              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |        FROM idx WHERE i + 2 <= len(w)),
        |tg AS MATERIALIZED (
        |  SELECT u, v, w3, g, count(*) AS c FROM tri GROUP BY 1, 2, 3, 4),
        |ctx AS (SELECT u, v, CAST(sum(c) AS BIGINT) AS cuv,
        |               CAST(count(*) AS BIGINT) AS t12 FROM tg GROUP BY 1, 2),
        |cont AS (SELECT v, w3, CAST(count(*) AS BIGINT) AS nvw
        |         FROM tg GROUP BY 1, 2),
        |mid AS (SELECT v, CAST(count(*) AS BIGINT) AS n3v FROM tg GROUP BY 1),
        |bt AS MATERIALIZED (
        |  SELECT DISTINCT w[i] AS b1, w[i+1] AS b2
        |  FROM idx WHERE i + 1 <= len(w)),
        |ts1 AS (SELECT b1 AS v, CAST(count(*) AS BIGINT) AS t1
        |        FROM bt GROUP BY 1),
        |cwt AS (SELECT b2 AS w3, CAST(count(*) AS BIGINT) AS ncw
        |        FROM bt GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM bt),
        |p AS (SELECT g,
        |        ln(greatest(c - 0.75, 0.0) / cuv
        |           + (0.75 * t12 / cuv)
        |             * (greatest(nvw - 0.75, 0.0) / n3v
        |                + (0.75 * t1 / n3v)
        |                  * (CAST(ncw AS DOUBLE) / tot))) AS lp
        |      FROM tg JOIN ctx USING (u, v) JOIN cont USING (v, w3)
        |        JOIN mid USING (v) JOIN ts1 USING (v)
        |        JOIN cwt USING (w3) CROSS JOIN tt),
        |sc AS (SELECT t.doc_id, CAST(count(*) AS INTEGER) AS n_trigrams,
        |              sum(p.lp) AS slp
        |       FROM tri t JOIN p USING (g) GROUP BY 1)
        |SELECT t.doc_id, COALESCE(sc.n_trigrams, 0) AS n_trigrams,
        |       round(sc.slp / sc.n_trigrams, 4) AS avg_logp_kn3
        |FROM tok t LEFT JOIN sc USING (doc_id)""".stripMargin,
    // Per-language trigram occurrence counts + doc frequency, exact
    // global top-5 on the (cnt desc, gram) total order — an
    // independent derivation with no local-prune stage, so a pruning
    // bug that dropped a global winner cannot agree with it.
    // Three unioned gram blocks off the q125 token CTE — exact
    // total/distinct counts, one division per n.
    "q316_distinct_ngrams" ->
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT w, generate_subscripts(w, 1) AS i FROM tok),
        |g1 AS (SELECT w[i] AS gram FROM idx WHERE i <= len(w)),
        |g2 AS (SELECT w[i] || ' ' || w[i+1] AS gram FROM idx
        |       WHERE i + 1 <= len(w)),
        |g3 AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |       FROM idx WHERE i + 2 <= len(w)),
        |u AS (
        |  SELECT 1 AS n, CAST(count(*) AS BIGINT) AS total_ngrams,
        |         CAST(count(DISTINCT gram) AS BIGINT)
        |           AS distinct_ngrams FROM g1
        |  UNION ALL
        |  SELECT 2, CAST(count(*) AS BIGINT),
        |         CAST(count(DISTINCT gram) AS BIGINT) FROM g2
        |  UNION ALL
        |  SELECT 3, CAST(count(*) AS BIGINT),
        |         CAST(count(DISTINCT gram) AS BIGINT) FROM g3)
        |SELECT CAST(n AS INTEGER) AS n, total_ngrams, distinct_ngrams,
        |  CAST(floor(CAST(distinct_ngrams AS DOUBLE) / total_ngrams
        |    * 1e6 + 0.5) / 1e6 AS REAL) AS distinct_ratio
        |FROM u""".stripMargin,

    // The same first-seen trick (min doc_id per term), the same
    // integer cutoffs and conditional counts, the same micro-scaled
    // log-log moments and one-division slope.
    "q331_heaps_law" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |sp AS (SELECT min(doc_id) AS d0, max(doc_id) AS d1 FROM tok),
        |cuts AS (SELECT CAST(j AS INTEGER) AS chk,
        |    d0 + ((d1 - d0 + 1) * j) // 10 - 1 AS cut
        |  FROM sp, range(1, 11) t(j)),
        |pd AS (SELECT doc_id, len(w) AS nt FROM tok),
        |fs AS (SELECT term, min(doc_id) AS fd FROM (
        |    SELECT doc_id, unnest(w) AS term FROM tok) u GROUP BY 1),
        |tc AS (SELECT chk, cut,
        |    CAST(sum(CASE WHEN doc_id <= cut THEN nt ELSE 0 END)
        |      AS BIGINT) AS n_tokens
        |  FROM pd CROSS JOIN cuts GROUP BY 1, 2),
        |dc AS (SELECT chk, cut,
        |    CAST(sum(CASE WHEN fd <= cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_distinct
        |  FROM fs CROSS JOIN cuts GROUP BY 1, 2),
        |pts AS (SELECT chk, cut, n_tokens, n_distinct,
        |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS x6,
        |    CAST(floor(ln(CAST(n_distinct AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS y6
        |  FROM tc JOIN dc USING (chk, cut)
        |  WHERE n_tokens > 0 AND n_distinct > 0),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x6 AS HUGEINT)) AS sx,
        |    sum(CAST(y6 AS HUGEINT)) AS sy,
        |    sum(CAST(x6 AS HUGEINT) * x6) AS sxx,
        |    sum(CAST(x6 AS HUGEINT) * y6) AS sxy
        |  FROM pts),
        |sl AS (SELECT CAST(CASE WHEN
        |      CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 END AS REAL) AS heaps_beta FROM mm)
        |SELECT p.chk, p.cut AS cut_id, p.n_tokens, p.n_distinct,
        |  sl.heaps_beta
        |FROM pts p, sl""".stripMargin,

    // The same exact counts, (cnt desc, term) total-order top-100,
    // and micro-scaled log-log slope.
    "q332_zipf_slope" ->
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |tcnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(w) AS term FROM tok) u GROUP BY 1),
        |top AS (SELECT term, cnt, CAST(row_number() OVER (
        |      ORDER BY cnt DESC, term) AS BIGINT) AS rnk
        |  FROM tcnt ORDER BY cnt DESC, term LIMIT 100),
        |pts AS (SELECT rnk, cnt,
        |    CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS x6,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS y6
        |  FROM top),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x6 AS HUGEINT)) AS sx,
        |    sum(CAST(y6 AS HUGEINT)) AS sy,
        |    sum(CAST(x6 AS HUGEINT) * x6) AS sxx,
        |    sum(CAST(x6 AS HUGEINT) * y6) AS sxy
        |  FROM pts),
        |tp AS (SELECT max(CASE WHEN rnk = 1 THEN cnt END) AS top_cnt
        |       FROM pts)
        |SELECT CAST(mm.n AS INTEGER) AS n_terms, tp.top_cnt,
        |  CAST(CASE WHEN
        |      CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 END AS REAL) AS zipf_slope
        |FROM mm, tp""".stripMargin,

    "q125_top_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT doc_id, lang, generate_subscripts(w, 1) AS i, w
        |        FROM tok),
        |g AS (SELECT doc_id, lang,
        |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |      FROM idx WHERE i + 2 <= len(w)),
        |counts AS (SELECT lang, gram, count(*) AS cnt,
        |             CAST(count(DISTINCT doc_id) AS INTEGER) AS df
        |           FROM g GROUP BY 1, 2)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, gram, cnt, df
        |FROM (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY cnt DESC, gram) AS rank FROM counts)
        |WHERE rank <= 5""".stripMargin,
    // q62's quality derivation, the q103-style md5-ranked sample with
    // the same floor-index selection, then the >= filter — the whole
    // gate (including the sketch threshold) re-derived exactly.
    // q128's sketch re-derivation with TWO floor-index cut points
    // (1/3, 2/3 of the sorted sample), the same CASE chain, and the
    // q114-family md5-high-16 order key.
    "q151_curriculum" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      val ord = OracleSql.md5High16(
        "md5('cur:' || CAST(doc_id AS VARCHAR))")
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, text, w,
         |        len(list_filter(w, x -> $stopCond)) AS stops FROM tok),
         |q AS (SELECT doc_id,
         |        round(least(CAST(len(w) AS DOUBLE) / 100, CAST(1 AS DOUBLE))
         |          * (CAST(1 AS DOUBLE) - CAST(stops AS DOUBLE) / len(w)), 4)
         |          AS quality
         |      FROM m),
         |l AS (SELECT q.doc_id, d.lang, q.quality
         |      FROM q JOIN documents d USING (doc_id)
         |      WHERE q.quality IS NOT NULL),
         |h AS (SELECT lang, quality, md5(CAST(doc_id AS VARCHAR)) AS hm
         |      FROM l),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |        ORDER BY hm) AS rk FROM h),
         |g AS (SELECT lang, list(quality ORDER BY quality) AS vs
         |      FROM r WHERE rk <= 200 GROUP BY 1),
         |thr AS (SELECT lang,
         |          vs[CAST(floor(CAST(${1.0 / 3} AS DOUBLE)
         |            * (len(vs) - 1)) AS INT) + 1] AS thr_1,
         |          vs[CAST(floor(CAST(${2.0 / 3} AS DOUBLE)
         |            * (len(vs) - 1)) AS INT) + 1] AS thr_2
         |        FROM g)
         |SELECT l.doc_id, l.lang, l.quality,
         |       CASE WHEN l.quality >= thr.thr_2 THEN 2
         |            WHEN l.quality >= thr.thr_1 THEN 1
         |            ELSE 0 END AS phase,
         |       CAST($ord AS INTEGER) AS order_key
         |FROM l JOIN thr USING (lang)""".stripMargin
    },

    "q128_quality_gate" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, text, w,
         |        len(list_filter(w, x -> $stopCond)) AS stops FROM tok),
         |q AS (SELECT doc_id,
         |        round(least(CAST(len(w) AS DOUBLE) / 100, CAST(1 AS DOUBLE))
         |          * (CAST(1 AS DOUBLE) - CAST(stops AS DOUBLE) / len(w)), 4)
         |          AS quality
         |      FROM m),
         |l AS (SELECT q.doc_id, d.lang, q.quality
         |      FROM q JOIN documents d USING (doc_id)),
         |h AS (SELECT lang, quality, md5(CAST(doc_id AS VARCHAR)) AS hm
         |      FROM l WHERE quality IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |        ORDER BY hm) AS rk FROM h),
         |g AS (SELECT lang, list(quality ORDER BY quality) AS vs
         |      FROM r WHERE rk <= 200 GROUP BY 1),
         |thr AS (SELECT lang,
         |          vs[CAST(floor(0.5 * (len(vs) - 1)) AS INT) + 1] AS q_thr
         |        FROM g)
         |SELECT l.doc_id, l.lang, l.quality, thr.q_thr
         |FROM l JOIN thr USING (lang)
         |WHERE l.quality >= thr.q_thr""".stripMargin
    },

    // The A-ES draw re-derived: same quality weight, same 48-bit md5
    // fraction, same ln(u)/w key, same (key desc, doc_id) total order.
    // Only the SELECTION depends on the key (rank_key is not output),
    // so sub-ulp libm ln() differences cannot flip a row unless two
    // keys collide to ~1e-13 relative — not a property of hash-
    // distributed fractions.
    "q130_weighted_sample" -> {
      val stopCond = TextOps.stopwords.map(s => s"x = '$s'").mkString(" OR ")
      val frac = OracleSql.md5Frac48("md5('wsm:' || CAST(doc_id AS VARCHAR))")
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, text, w,
         |        len(list_filter(w, x -> $stopCond)) AS stops FROM tok),
         |q AS (SELECT doc_id,
         |        round(least(CAST(len(w) AS DOUBLE) / 100, CAST(1 AS DOUBLE))
         |          * (CAST(1 AS DOUBLE) - CAST(stops AS DOUBLE) / len(w)), 4)
         |          AS quality
         |      FROM m),
         |l AS (SELECT q.doc_id, d.lang, q.quality
         |      FROM q JOIN documents d USING (doc_id)),
         |k AS (SELECT doc_id, lang, quality AS weight,
         |        ln($frac) / quality AS rank_key
         |      FROM l WHERE quality > 0)
         |SELECT doc_id, lang, weight, CAST(rk AS INTEGER) AS rk
         |FROM (SELECT *, row_number() OVER (PARTITION BY lang
         |        ORDER BY rank_key DESC, doc_id) AS rk FROM k)
         |WHERE rk <= 50""".stripMargin
    },

    // The systematic PPS walk re-derived: same doc_id-ordered
    // cumulative weights (window sum, BIGINT-cast — the engine's scan
    // emits long), same HUGEINT ceil-division hit counts.
    "q401_pps_sample" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |s AS (SELECT doc_id, w,
        |        CAST(sum(w) OVER (ORDER BY doc_id ROWS BETWEEN
        |          UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM w),
        |t AS (SELECT CAST(sum(w) AS HUGEINT) AS wt FROM w),
        |h AS (SELECT doc_id, w, cum,
        |        (CAST(cum AS HUGEINT) * 50 + wt - 1) // wt AS hi,
        |        ((CAST(cum AS HUGEINT) - w) * 50 + wt - 1) // wt AS lo
        |      FROM s, t)
        |SELECT doc_id, w, cum, CAST(hi - lo AS INTEGER) AS n_hits
        |FROM h WHERE hi > lo""".stripMargin,

    // The sketch grid and the minima re-derived exactly: same 4 row
    // salts, same md5-high-16 mod 64 buckets, same per-cell sums, same
    // (cnt desc, gram) top-20 total order.
    "q132_cms_counts" -> cmsOracle,
    // Identical-answer contract on SKETCH STATE (the q220 HLL pattern
    // for count-min): old-corpus cells union batch cells re-summed ==
    // the one-pass sketch because per-cell sums commute — shares
    // q132's oracle VERBATIM.
    "q249_cms_day2" -> cmsOracle,

    // The KMV estimator re-derived to the bit: distinct keys ranked by
    // md5, the k-th hash fraction (first 12 nibbles / 2^48 — exact in
    // a double) inverted as (k-1)/u_k, exact count below k.
    "q127_kmv_distinct" -> {
      val frac = OracleSql.md5Frac48("m")
      s"""WITH $tokCte,
         |idx AS (SELECT doc_id, generate_subscripts(w, 1) AS i, w FROM tok),
         |shd AS (SELECT DISTINCT doc_id,
         |          w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |        FROM idx WHERE i + 2 <= len(w)),
         |shl AS (SELECT DISTINCT d.lang, sh.s
         |        FROM shd sh JOIN documents d USING (doc_id)),
         |shr AS (SELECT lang, md5(s) AS m,
         |          row_number() OVER (PARTITION BY lang
         |            ORDER BY md5(s)) AS rk
         |        FROM shl),
         |she AS (SELECT lang,
         |          CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
         |               ELSE 127.0 / max(CASE WHEN rk = 128 THEN $frac END)
         |          END AS est_sh
         |        FROM shr GROUP BY 1),
         |src AS (SELECT DISTINCT lang, source FROM documents
         |        WHERE source IS NOT NULL),
         |srcr AS (SELECT lang, md5(source) AS m,
         |           row_number() OVER (PARTITION BY lang
         |             ORDER BY md5(source)) AS rk
         |         FROM src),
         |srce AS (SELECT lang,
         |           CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
         |                ELSE 15.0 / max(CASE WHEN rk = 16 THEN $frac END)
         |           END AS est_src
         |         FROM srcr GROUP BY 1),
         |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
         |SELECT nd.lang, nd.n_docs,
         |       CAST(round(srce.est_src, 4) AS REAL) AS est_sources,
         |       CAST(round(she.est_sh, 4) AS REAL) AS est_shingles
         |FROM nd JOIN srce USING (lang) JOIN she USING (lang)""".stripMargin
    },

    // Both sides' bottom-128 fraction samples re-derived with
    // row_number() over md5 per language, then the SAME union/
    // membership algebra on fractions (grouping by the fraction, as
    // the engine's array_distinct does): k smallest of the union,
    // intersection counted inside it, (k−1)/u_k inversion for the
    // union cardinality.
    "q150_kmv_overlap" -> {
      val frac = OracleSql.md5Frac48("m")
      s"""WITH tk AS (SELECT doc_id, lang,
         |             regexp_split_to_array(trim(text), '\\s+') AS w
         |           FROM documents WHERE text IS NOT NULL),
         |gi AS (SELECT doc_id, lang, w, generate_subscripts(w, 1) AS i
         |       FROM tk),
         |g AS (SELECT doc_id, lang,
         |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |      FROM gi WHERE i + 2 <= len(w)),
         |sha AS (SELECT DISTINCT lang, s FROM g WHERE doc_id % 3 <> 0),
         |shb AS (SELECT DISTINCT lang, s FROM g WHERE doc_id % 3 = 0),
         |ra AS (SELECT lang, md5(s) AS m, row_number()
         |         OVER (PARTITION BY lang ORDER BY md5(s)) AS rk
         |       FROM sha),
         |ka AS (SELECT lang, $frac AS f FROM ra WHERE rk <= 128),
         |rb AS (SELECT lang, md5(s) AS m, row_number()
         |         OVER (PARTITION BY lang ORDER BY md5(s)) AS rk
         |       FROM shb),
         |kb AS (SELECT lang, $frac AS f FROM rb WHERE rk <= 128),
         |ca AS (SELECT lang, CAST(count(*) AS INTEGER) AS k_a
         |       FROM ka GROUP BY 1),
         |cb AS (SELECT lang, CAST(count(*) AS INTEGER) AS k_b
         |       FROM kb GROUP BY 1),
         |u AS (SELECT lang, f, max(ina) AS ina, max(inb) AS inb FROM (
         |        SELECT lang, f, 1 AS ina, 0 AS inb FROM ka
         |        UNION ALL
         |        SELECT lang, f, 0 AS ina, 1 AS inb FROM kb)
         |      GROUP BY 1, 2),
         |ru AS (SELECT lang, f, ina, inb, row_number()
         |         OVER (PARTITION BY lang ORDER BY f) AS rk
         |       FROM u),
         |uk AS (SELECT * FROM ru WHERE rk <= 128),
         |agg AS (SELECT lang, CAST(count(*) AS INTEGER) AS k_union,
         |          CAST(sum(CASE WHEN ina = 1 AND inb = 1
         |            THEN 1 ELSE 0 END) AS INTEGER) AS k_both,
         |          max(CASE WHEN rk = 128 THEN f END) AS u_k
         |        FROM uk GROUP BY 1),
         |dom AS (SELECT lang FROM sha UNION SELECT lang FROM shb)
         |SELECT d.lang,
         |       coalesce(ca.k_a, 0) AS k_a,
         |       coalesce(cb.k_b, 0) AS k_b,
         |       a.k_union, a.k_both,
         |       CAST(round(CAST(a.k_both AS DOUBLE) / a.k_union, 4)
         |         AS REAL) AS j_est,
         |       CAST(round(CASE WHEN a.k_union < 128
         |           THEN CAST(a.k_union AS DOUBLE)
         |           ELSE 127.0 / a.u_k END, 4) AS REAL) AS est_union
         |FROM dom d
         |LEFT JOIN ca USING (lang) LEFT JOIN cb USING (lang)
         |JOIN agg a USING (lang)""".stripMargin
    },

    "q68_ann_cosine" -> annCosineOracle,
    // Identical answer contract: the kernel rewrite must be invisible
    // in values, so q107 shares q68's oracle verbatim.
    "q107_kernel_rewrite_ann" -> annCosineOracle,
    "q72_cosine_dups" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         round(list_dot_product(a.v, b.v)
        |               / (sqrt(a.n2) * sqrt(b.n2)), 4) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT va, vb, cos FROM p
        |WHERE cos >= CAST('0.4' AS DOUBLE)""".stripMargin,
    // Same md5-parity plane derivation as the q69 oracle, then the
    // candidate set = distinct pairs sharing any (table, bucket) —
    // exactly the OR-construction the Spark path joins on.
    "q90_cosine_dups_lsh" ->
      s"""WITH $cosineLshCtes
         |SELECT va, vb, cos FROM p2
         |WHERE cos >= CAST('0.4' AS DOUBLE)""".stripMargin,
    // Embedding near-dup clusters: connected components over q90's
    // LSH pair graph (same composition as q82 over the simhash graph).
    // The oracle's reachability runs over the SAME SQL-derived pair
    // set, so equality is deterministic regardless of LSH recall.
    "q102_embedding_clusters" ->
      s"""WITH RECURSIVE $cosineLshCtes,
         |prs AS MATERIALIZED (
         |  SELECT va, vb FROM p2 WHERE cos >= CAST('0.4' AS DOUBLE)),
         |edges AS MATERIALIZED (
         |  SELECT va AS src, vb AS dst FROM prs
         |  UNION ALL
         |  SELECT vb AS src, va AS dst FROM prs),
         |reach AS (
         |  SELECT vec_id AS v, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT e2.dst AS v, re.r AS r
         |  FROM reach re JOIN edges e2 ON e2.src = re.v),
         |cc AS (SELECT v AS vec_id, min(r) AS cluster FROM reach GROUP BY 1),
         |cs AS (SELECT cluster, CAST(count(*) AS INTEGER) AS cluster_size
         |       FROM cc GROUP BY 1)
         |SELECT c.vec_id, c.cluster, s.cluster_size,
         |       c.vec_id = c.cluster AS is_canonical
         |FROM cc c JOIN cs s USING (cluster)""".stripMargin,
    "q73_rolling_fp" ->
      s"""WITH $tokCte
         |SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(w, t -> CAST(list_sum(list_transform(range(1, 9),
         |      i -> (strpos('0123456789abcdef',
         |              substr(md5(t), CAST(i AS INT), 1)) - 1)
         |           * 16 ** (8 - i))) AS BIGINT))),
         |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp
         |FROM tok""".stripMargin,
    "q88_frame_sample" ->
      """WITH b AS (SELECT doc_id,
        |             CAST(octet_length(encode(text)) AS INTEGER) AS len
        |           FROM documents),
        |n AS (SELECT doc_id, len,
        |        CAST((len + 63) // 64 AS INTEGER) AS n_frames FROM b),
        |f AS (SELECT doc_id, n_frames, len,
        |        unnest(range(0, n_frames, 2)) AS fid
        |      FROM n WHERE n_frames > 0)
        |SELECT doc_id, n_frames, CAST(fid AS INTEGER) AS frame_id,
        |       CAST(least(64, len - fid * 64) AS INTEGER) AS frame_bytes
        |FROM f""".stripMargin,

    // The codec chain re-derived from doc_id alone: synthetic dims,
    // the smallest stride whose re-encoded size fits 64 bytes (or the
    // 1×1 floor), the canonical-header byte count, and the
    // nearest-neighbor pixel checksum Σ (id·7 + 3·i·s + 5·j·s + 11·c)
    // mod 256 over the resampled grid.
    "q123_ppm_resize" ->
      """WITH d AS (SELECT doc_id,
        |             CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |             CAST(3 + doc_id % 4 AS INTEGER) AS h
        |           FROM documents),
        |cand AS (
        |  SELECT d.doc_id, d.w, d.h, CAST(s AS INTEGER) AS s,
        |         CAST((d.w + s - 1) // s AS INTEGER) AS ow,
        |         CAST((d.h + s - 1) // s AS INTEGER) AS oh
        |  FROM d, range(1, 10) t(s)),
        |sized AS (
        |  SELECT *, 9 + length(CAST(ow AS VARCHAR))
        |           + length(CAST(oh AS VARCHAR)) + 3 * ow * oh AS total
        |  FROM cand),
        |fit AS (
        |  SELECT doc_id, w, h, s, ow, oh, total,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rk
        |  FROM sized WHERE total <= 64 OR (ow = 1 AND oh = 1)),
        |chosen AS (SELECT * FROM fit WHERE rk = 1),
        |px AS (
        |  SELECT c.doc_id,
        |         sum((c.doc_id * 7 + (i * c.s) * 3 + (j * c.s) * 5 + k * 11)
        |             % 256) AS pix_sum
        |  FROM chosen c, range(0, 8) ti(i), range(0, 8) tj(j),
        |       range(0, 3) tk(k)
        |  WHERE i < c.ow AND j < c.oh
        |  GROUP BY 1)
        |SELECT c.doc_id, c.w AS orig_w, c.h AS orig_h,
        |       c.ow AS res_w, c.oh AS res_h,
        |       CAST(c.total AS INTEGER) AS resized_bytes,
        |       CAST(p.pix_sum AS BIGINT) AS pix_sum
        |FROM chosen c JOIN px p USING (doc_id)""".stripMargin,

    "q89_resize" ->
      """WITH b AS (SELECT doc_id,
        |             CAST(octet_length(encode(text)) AS INTEGER) AS len
        |           FROM documents),
        |s AS (SELECT doc_id, len,
        |        CASE WHEN len <= 100 THEN 1 ELSE (len + 99) // 100 END
        |          AS stride FROM b)
        |SELECT doc_id, len AS orig_bytes,
        |       CAST((len + stride - 1) // stride AS INTEGER)
        |         AS resized_bytes
        |FROM s""".stripMargin,

    "q70_multimodal" ->
      """SELECT doc_id, lang, source, n_chars,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |       ascii(text) AS head_code,
        |       CAST(len(embedding) AS INTEGER) AS dim,
        |       round(sqrt(list_dot_product(embedding::DOUBLE[],
        |             embedding::DOUBLE[])), 4) AS emb_norm,
        |       label
        |FROM documents JOIN embeddings ON doc_id = vec_id""".stripMargin)
}
