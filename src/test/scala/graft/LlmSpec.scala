package graft

import graft.llm.{Corpus, Dedup, Multimodal, ReferenceForms, Similarity,
  TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the probabilistic LLM-pipeline operators that have no
  * SQL oracle: LSH ANN recall, MinHash candidate completeness on the
  * fixture, SimHash locality, and the multimodal decode plumbing.
  */
class LlmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")
  private lazy val embs =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("prefix-filtered jaccard equals naive all-pairs on synthetic docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 80).foreach { i =>
      if (i % 5 == 0 || texts.isEmpty) {
        texts += Seq.fill(12 + rnd.nextInt(25))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      } else {
        // mutate a previous doc: drop/replace a few tokens → pairs
        // spread across the whole jaccard range incl. near-threshold
        val base = texts(rnd.nextInt(texts.size)).split(" ").toBuffer
        (0 until rnd.nextInt(6)).foreach { _ =>
          base(rnd.nextInt(base.size)) = vocab(rnd.nextInt(vocab.size))
        }
        texts += base.mkString(" ")
      }
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("doc_id", "text")
    val t = 0.3
    def shingleSet(s: String): Set[String] =
      s.split("\\s+").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sets = texts.zipWithIndex
      .map { case (s, i) => i.toLong -> shingleSet(s) }.toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= t
    } yield (a, b)).toSet
    val gotIndex = Dedup.jaccardPairs(docs, 3, t)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPrefix = Dedup.jaccardPairsPrefix(docs, 3, t)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotIndex == naive)
    assert(gotPrefix == naive)
  }

  test("canonicalize: NFC folds decomposed==composed into one dedup identity") {
    import spark.implicits._
    val sample = Seq(
      (1L, "caf\u00e9 latte"),      // composed é
      (2L, "cafe\u0301 latte"),     // decomposed e + U+0301 — same after NFC
      (3L, "a\u0007b\u001Fc"),      // control chars → spaces → collapsed
      (4L, "  lots   of\t space "), // whitespace runs + edges
      (5L, "plain ascii"))
      .toDF("doc_id", "text")
    val out = TextOps.canonicalize(sample)
    val rows = out.orderBy("doc_id").collect()
    val clean = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) == clean(2L), "NFC must merge the two spellings")
    assert(clean(3L) == "a b c")
    assert(clean(4L) == "lots of space")
    assert(clean(5L) == "plain ascii")
    val changed = rows.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(changed == Map(1L -> false, 2L -> true, 3L -> true,
      4L -> true, 5L -> false))
    // downstream effect: the exact-dedup fingerprint now collapses the
    // two spellings to one identity
    val fps = out.where(col("doc_id") <= 2)
      .select(TextOps.fingerprint(col("clean_text"))).distinct().count()
    assert(fps == 1)
  }

  test("day-2 ingest: gate, cross-corpus dedup, and first-claim admission") {
    import spark.implicits._
    // one gate-passing text per vocabulary family: "the" + 23 distinct
    // 5-char tokens (24 tokens, avg len 4.9, stop_ratio 1/24, all
    // bigrams distinct) — families share no 3-shingle, so cross-family
    // pairs are impossible by construction
    def mk(p: String) = "the " + (1 to 23).map(i => f"$p$i%02d").mkString(" ")
    val oldText = mk("old")
    val nearOld = (oldText.split(" ").dropRight(1) :+ "chg99").mkString(" ")
    val sample = Seq(
      (1L, "en", mk("cor")),   // corpus: unique
      (2L, "en", mk("cru")),   // corpus: unique
      (4L, "en", oldText),     // corpus: the doc the batch duplicates
      (3L, "en", mk("uni")),   // batch: unique, gate-passing → admitted
      (6L, "en", nearOld),     // batch: near-copy of corpus doc 4 → rejected
      (9L, "en", "tiny text"), // batch: 2 tokens → gate-rejected
      (12L, "en", mk("par")),  // batch: duplicate pair, smaller id → admitted
      (15L, "en", mk("par")))  // batch: duplicate of 12 → first-claim rejected
      .toDF("doc_id", "lang", "text")
    val out = Corpus.day2Ingest(sample, id => id % 3 === 0)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))).toMap
    assert(out.keySet == Set(3L, 6L, 9L, 12L, 15L)) // one row per batch doc
    assert(out(3L) == ((true, 0, 0, true)), s"doc 3: ${out(3L)}")
    val (gk6, nj6, ns6, adm6) = out(6L)
    assert(gk6 && nj6 >= 1 && !adm6, s"doc 6: ${out(6L)}") // corpus dup
    val _ = ns6 // simhash may or may not also flag at hamming <= 3
    assert(out(9L) == ((false, 0, 0, false)), s"doc 9: ${out(9L)}")
    assert(out(12L)._1 && out(12L)._4, s"doc 12: ${out(12L)}") // first claim
    val (gk15, nj15, ns15, adm15) = out(15L)
    assert(gk15 && (nj15 >= 1 || ns15 >= 1) && !adm15, s"doc 15: ${out(15L)}")
  }

  test("day-2 admission: contamination alone rejects an otherwise-clean doc") {
    import spark.implicits._
    def mk(p: String) = "the " + (1 to 23).map(i => f"$p$i%02d").mkString(" ")
    // batch doc 3 embeds an 8-token run from bench doc 10 (no other
    // overlap: distinct vocab prefixes → no jaccard/simhash dup); batch
    // doc 6 is fully clean. bench = old docs with doc_id % 5 = 0.
    val run = (1 to 8).map(i => f"evl$i%02d").mkString(" ")
    val contaminated = "the " + run + " " +
      (1 to 15).map(i => f"mix$i%02d").mkString(" ")
    val sample = Seq(
      (1L, "en", mk("cor")),            // corpus, not bench
      (10L, "en", "the " + run + " " +  // corpus AND bench (10 % 5 == 0)
        (1 to 15).map(i => f"bnk$i%02d").mkString(" ")),
      (3L, "en", contaminated),         // batch: contaminated only
      (6L, "en", mk("cln")))            // batch: fully clean
      .toDF("doc_id", "lang", "text")
    val out = Corpus.day2Admit(sample, id => id % 3 === 0,
        sample.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getBoolean(5)))).toMap
    assert(out.keySet == Set(3L, 6L))
    val (gk3, nj3, ns3, nc3, adm3) = out(3L)
    assert(gk3 && nj3 == 0 && nc3 >= 1 && !adm3, s"doc 3: ${out(3L)}")
    val _ = ns3 // hamming proximity to the bench doc is incidental
    assert(out(6L) == ((true, 0, 0, 0, true)), s"doc 6: ${out(6L)}")
  }

  test("incremental clusters == full recompute; merge remap drags old members") {
    import spark.implicits._
    // fixture equivalence: the incremental path must reproduce the
    // full clustering bit for bit
    val full = Dedup.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3))))
      .toSet
    val inc = Dedup.dupClustersDelta(docs, id => id % 3 === 0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3))))
      .toSet
    assert(inc == full)
    // handcrafted merge: old clusters {1,4} and {2,7} (near-dup
    // texts), new doc 3 near-dups BOTH 4 and 7 → one merged component
    // labeled 1, including the non-active old members
    import graft.graph.ConnectedComponents
    val prior = Seq((1L, 1L), (4L, 1L), (2L, 2L), (7L, 2L))
      .toDF("id", "component")
    val newEdges = Seq((3L, 4L), (3L, 7L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 7L, 9L).toDF("id")
    val got = ConnectedComponents.runIncremental(nodes, newEdges, prior)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 1L,
      9L -> 9L), got.toString)
    // chained merge through DIFFERENT members of the middle cluster:
    // A{1,10}–B{2,20} via (10,20), B{2,20}–C{3,30} via (30,2) — every
    // node of all three old clusters must land on component 1 (this is
    // the case a one-hop label remap gets wrong)
    val prior2 = Seq((1L, 1L), (10L, 1L), (2L, 2L), (20L, 2L),
      (3L, 3L), (30L, 3L)).toDF("id", "component")
    val edges2 = Seq((10L, 20L), (30L, 2L)).toDF("a", "b")
    val nodes2 = Seq(1L, 10L, 2L, 20L, 3L, 30L).toDF("id")
    val got2 = ConnectedComponents.runIncremental(nodes2, edges2, prior2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.values.toSet == Set(1L), got2.toString)
  }

  test("winnowing: unaligned 8-token shared substring always pairs") {
    import spark.implicits._
    // the winnowing guarantee: any shared substring of w+k-1 = 8
    // tokens shares a selected fingerprint at ANY alignment — so the
    // shared run is planted at different offsets in each doc, inside
    // otherwise-disjoint vocabularies
    val shared = (1 to 8).map(i => s"run$i").mkString(" ")
    val sample = Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ") + " " + shared + " " +
        (6 to 20).map(i => s"a$i").mkString(" ")),   // run at offset 5
      (2L, (1 to 13).map(i => s"b$i").mkString(" ") + " " + shared + " " +
        (14 to 16).map(i => s"b$i").mkString(" ")),  // run at offset 13
      (3L, (1 to 24).map(i => s"c$i").mkString(" ")) // disjoint
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedPairs(sample)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "guaranteed pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc spuriously paired")
    // stop-fingerprint cap: a run shared by MORE than maxDf docs is
    // boilerplate — its fingerprints must not generate pairs, while a
    // rarer run still does
    val viral = (1 to 8).map(i => s"vir$i").mkString(" ")
    val capped = (0 until 5).map { j =>
      (j.toLong,
        (1 to 16).map(i => s"pad${j}x$i").mkString(" ") + " " + viral)
    }.toDF("doc_id", "text")
    assert(Dedup.winnowedPairs(capped, maxDf = 3).count() == 0,
      "viral fingerprint survived the stop-fp cap")
    assert(Dedup.winnowedPairs(capped, maxDf = 5).count() > 0)
    // selection density: winnowing keeps roughly 2/(w+1) of gram
    // positions — a bounded sketch, not the whole stream
    val n = Dedup.winnow(docs.where(col("text").isNotNull)).count()
    val grams = docs.where(col("text").isNotNull)
      .select(greatest(size(TextOps.tokens(col("text"))) - 3, lit(0)).as("g"))
      .agg(sum("g")).collect()(0).getLong(0)
    assert(n.toDouble / grams < 0.6, s"selection not sparse: $n/$grams")
  }

  test("duplicateSpans: maximal spans localized at exact token offsets") {
    import spark.implicits._
    // doc1 and doc2 share one 12-token run at different offsets →
    // ONE maximal span of exactly 12 (never two partial reports),
    // with 1-based starts at the planted positions
    val run = (1 to 12).map(i => s"run$i").mkString(" ")
    val sample = Seq(
      (1L, (1 to 4).map(i => s"a$i").mkString(" ") + " " + run + " " +
        (5 to 14).map(i => s"a$i").mkString(" ")),  // run at token 5
      (2L, (1 to 9).map(i => s"b$i").mkString(" ") + " " + run + " " +
        (10 to 12).map(i => s"b$i").mkString(" ")), // run at token 10
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(sample, n = 8).collect()
    assert(spans.length == 1, s"expected one maximal span, got ${spans.length}")
    val r = spans(0)
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Int]("start_a") == 5 && r.getAs[Int]("start_b") == 10)
    assert(r.getAs[Int]("span_len") == 12)

    // two SEPARATE shared runs in the same pair → two spans (different
    // diagonals), each maximal, neither merged nor extended
    val runB = (1 to 9).map(i => s"other$i").mkString(" ")
    val two = Seq(
      (1L, run + " " + (1 to 6).map(i => s"x$i").mkString(" ") + " " + runB),
      (2L, runB + " " + (1 to 8).map(i => s"y$i").mkString(" ") + " " + run)
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(two, n = 8).collect()
      .map(r => (r.getAs[Int]("start_a"), r.getAs[Int]("start_b"),
        r.getAs[Int]("span_len"))).toSet
    assert(got == Set((1, 18, 12), (19, 1, 9)), s"got $got")

    // a run below n tokens is invisible; exactly n reports span_len = n
    val short = Seq(
      (1L, (1 to 7).map(i => s"s$i").mkString(" ") + " " +
        (1 to 10).map(i => s"p1x$i").mkString(" ")),
      (2L, (1 to 7).map(i => s"s$i").mkString(" ") + " " +
        (1 to 10).map(i => s"p2x$i").mkString(" "))
    ).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(short, n = 8).count() == 0)
    assert(Dedup.duplicateSpans(short, n = 7).collect()
      .map(r => r.getAs[Int]("span_len")).toSeq == Seq(7))

    // stop-anchor df cap: a run in > maxDf docs generates nothing
    val viralDocs = (0 until 5).map(j =>
      (j.toLong, (1 to 4).map(i => s"pad${j}x$i").mkString(" ") + " " + run))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(viralDocs, n = 8, maxDf = 3).count() == 0)
    assert(Dedup.duplicateSpans(viralDocs, n = 8, maxDf = 5).count() == 10)
  }

  test("unigram-LM: frequent words stay whole, rare words fall to chars") {
    import spark.implicits._
    // "hello" dominates the corpus → after EM+prune it must survive as
    // one piece and segment as itself; "zq" shares no substring mass →
    // single-char fallback (the coverage floor)
    val docs = (
      (1 to 50).map(i => (i.toLong, "hello hello world")) :+
        (51L, "zq")
    ).toDF("doc_id", "text")
    val vocab = graft.llm.Unigram.unigramTrain(docs, maxWordLen = 8)
      .collect().map(r => r.getString(0)).toSet
    assert(vocab.contains("hell") || vocab.contains("hello".take(4)),
      s"dominant substrings missing from $vocab")
    // every character of the corpus alphabet is present (coverage)
    "helowrdzq".foreach(c => assert(vocab.contains(c.toString),
      s"char $c missing from $vocab"))
    val segs = graft.llm.Unigram.unigramSegment(docs, maxWordLen = 8)
      .collect().map(r => r.getString(0) -> (r.getInt(2), r.getString(3)))
      .toMap
    // maxPieceLen=4 bounds pieces: "hello" → 2 pieces, never 5 chars
    assert(segs("hello")._1 <= 2, s"hello over-segmented: ${segs("hello")}")
    assert(segs("zq")._2 == "z q" || segs("zq")._1 <= 2)
    // segmentation is a partition: pieces re-concatenate to the word
    segs.foreach { case (w, (_, s)) =>
      assert(s.replace(" ", "") == w, s"$w != $s")
    }
  }

  test("unigram-LM: single-shuffle Viterbi ≡ per-round frontier form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial word table: ties (ab/ba same counts), words needing
    // the coverage floor, a max-length word, np tie-breaks (a 2-piece
    // vs 3-piece split of equal score mass is impossible under exact
    // integer scores, but equal-ns different-pieces ties are not)
    val words = Seq(
      ("hello", 50L), ("world", 50L), ("hellohello", 7L),
      ("abababab", 5L), ("babababa", 5L), ("zq", 1L), ("a", 9L),
      ("mississippis", 3L), ("xxxxyyyyxxxx", 2L), ("qqqqqqqqqqqqqqqq", 1L)
    ).toDF("word", "freq")
    val vocab = Seq(
      ("hello", 100L), ("hell", 40L), ("o", 60L), ("ab", 30L),
      ("ba", 30L), ("abab", 9L), ("a", 25L), ("b", 25L), ("z", 1L),
      ("q", 17L), ("w", 5L), ("r", 5L), ("l", 9L), ("d", 5L),
      ("e", 7L), ("h", 7L), ("m", 2L), ("i", 8L), ("s", 8L),
      ("p", 2L), ("x", 6L), ("y", 6L), ("xxxx", 3L), ("yy", 4L)
    ).toDF("piece", "cnt")
    val tot = vocab.agg(sum("cnt")).collect()(0).getLong(0)
    val scored = vocab.select(col("piece"),
      floor(log(col("cnt").cast("double") / lit(tot.toDouble)) * 1e6)
        .cast("long").as("score"))
    val a = graft.llm.Unigram.viterbi(words, scored, 4, 16)
      .orderBy("word").collect().map(_.toSeq.toList).toList
    val b = ReferenceForms.viterbiRounds(words, scored, 4, 16)
      .orderBy("word").collect().map(_.toSeq.toList).toList
    assert(a == b, s"viterbi forms diverge:\n$a\nvs\n$b")
    assert(a.nonEmpty && a.size == 10)
  }

  test("winnowed delta pairs == full pairs filtered to involving-new") {
    val isNew = col("doc_id") % 3 === 0
    val full = Dedup.winnowedPairs(docs)
      .where(col("da") % 3 === 0 || col("db") % 3 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val delta = Dedup.winnowedPairsDelta(docs, isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(delta == full && full.nonEmpty)
  }

  test("minhash-LSH pairs equal exact jaccard pairs at threshold 0.5") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, 3, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact) // full recall on fixture + exact verify = equality
  }

  test("LSH ANN: results are a subset of correct cosines; recall >= 0.4") {
    val brute = Similarity.bruteForceTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty)
    val recall = (lsh & brute).size.toDouble / brute.size
    info(f"LSH recall = $recall%.3f")
    // Deterministic planes → recall is a fixed property of the fixture:
    // measured 0.42 with 4 tables × 4 bits on 10 queries (md5-parity
    // planes). Pin ≥ 0.4 so a silent bucketing regression (degenerate
    // hash, broken OR-construction) fails the suite instead of sliding
    // through a recall > 0 bar.
    assert(recall >= 0.4 && lsh.size <= 50)
  }

  test("multi-probe LSH ANN: recall strictly improves on single-probe " +
      "at the same index") {
    val brute = Similarity.bruteForceTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = Similarity.lshMultiProbeTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rLsh = (lsh & brute).size.toDouble / brute.size
    val rMp = (mp & brute).size.toDouble / brute.size
    info(f"recall: single-probe $rLsh%.3f, multi-probe $rMp%.3f")
    // probing a superset of buckets can only add candidates, so the
    // exact-rerank top-k recall is monotonically >=; on this fixture
    // the 1-bit probes recover real neighbors, so it is strictly >
    assert(rMp > rLsh)
    assert(mp.size <= 50)
  }

  test("IVF ANN: valid output shape; recall >= 0.8 vs brute force") {
    val brute = Similarity.bruteForceTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, col("vec_id") < 10, 5,
      nlist = 8, nprobe = 3)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty && ivf.size <= 50)
    val recall = (ivf & brute).size.toDouble / brute.size
    info(f"IVF recall = $recall%.3f")
    // Deterministic init + Lloyd → fixed recall on the fixture: measured
    // 0.90 at nlist=8/nprobe=3. Pin ≥ 0.8 (same rationale as LSH above).
    assert(recall >= 0.8)
  }

  test("PQ ANN: valid shape; recall vs exact L2 top-5 pinned") {
    val pq = Similarity.pqTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.size == 50) // 10 queries × full top-5
    // exact L2 reference (PQ approximates squared L2, NOT cosine —
    // on unnormalized vectors those rank differently)
    val vecs = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val exact = vecs.keys.filter(_ < 10).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .sortBy { x =>
          val (a, b) = (vecs(q), vecs(x))
          (a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum, x)
        }
        .take(5).map(q -> _)
    }.toSet
    val recall = (pq & exact).size.toDouble / exact.size
    info(f"PQ recall = $recall%.3f")
    // Deterministic init + Lloyd + ADC + exact refine → fixed recall
    // on the frozen fixture: measured 0.700 at m=4/ksub=16/rerank=64
    // (a random 64-of-499 shortlist would score ~0.13, so the ADC
    // ordering carries real signal even on isotropic data). Pinned
    // with slack like the LSH/IVF bounds above.
    assert(recall >= 0.6)
  }

  test("LSH cosine near-dup pairs are a subset of exact; recall pinned") {
    val exact = Similarity.cosineDups(embs, 0.4)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineDupsLsh(embs, 0.4)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)          // threshold chosen to be non-trivial
    assert(lsh.subsetOf(exact))     // precision 1 by construction
    val recall = (lsh & exact).size.toDouble / exact.size
    info(f"cosine-dup LSH recall = $recall%.3f (${exact.size} exact pairs)")
    // Deterministic md5-parity planes → fixed on the frozen fixture
    // (measured 0.485 at t=0.4 — modest by design: 0.4-cosine pairs sit
    // far from the 16-plane bucket-collision sweet spot, which targets
    // true near-dups). Pinned with slack like the ANN bounds.
    assert(recall >= 0.4)
  }

  test("delta dedup equals the full pair set filtered to involving-new") {
    val isNew = col("doc_id") % 3 === 0
    val delta = Dedup.jaccardPairsDelta(docs, isNew)
    val full = Dedup.jaccardPairsPrefix(docs)
      .where(col("da") % 3 === 0 || col("db") % 3 === 0)
    assert(delta.exceptAll(full).isEmpty && full.exceptAll(delta).isEmpty)
    assert(delta.where(col("da") % 3 =!= 0 && col("db") % 3 =!= 0).count() == 0)
  }

  test("clusterDedup precomputed-labels overload equals the composed form") {
    val labels = Dedup.dupClusters(docs)
    val viaLabels = Dedup.clusterDedup(docs, labels)
    val composed = Dedup.clusterDedup(docs)
    assert(viaLabels.exceptAll(composed).isEmpty &&
      composed.exceptAll(viaLabels).isEmpty)
  }

  test("corpus pipeline: stages compose (subset chain, final corpus clean)") {
    val out = Corpus.corpusPipeline(docs).cache()
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // every survivor passed the gopher gate and won its cluster
    val keepers = TextOps.gopherFilter(docs).where(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepers))
    // no bench docs in the final corpus; positions dense per shard
    assert(ids.forall(_ % 50 != 0))
    val badPos = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"))
      .where(col("n") =!= col("mx")).count()
    assert(badPos == 0)
    out.unpersist()
  }

  test("rolling fingerprint native kernel matches the HOF aggregate spec") {
    val native = docs.select(col("doc_id"),
      TextOps.rollingFingerprint(col("text")).as("h"))
    val hof = docs.select(col("doc_id"),
      ReferenceForms.rollingFingerprintHof(col("text")).as("h"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("rolling fingerprint is order-sensitive; fingerprint is not") {
    import spark.implicits._
    val df = Seq((0L, "alpha beta gamma"), (1L, "gamma beta alpha"),
      (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val roll = df.select(col("doc_id"),
      TextOps.rollingFingerprint(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roll(0L) == roll(2L))    // deterministic
    assert(roll(0L) != roll(1L))    // order matters
    val fp = df.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) == fp(2L))
  }

  test("simhash drops NULL-text docs, matching the aggregate spec") {
    import spark.implicits._
    val df = Seq((0L, Option("alpha beta")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val ids = Dedup.simhash(df).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L))
    val viaAgg = ReferenceForms.simhashViaAgg(df).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(viaAgg == Set(0L))
  }

  test("simhash: identical docs agree; near-dup pairs closer than random") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val near = base.replace("lazy", "sleepy")
    val far = "completely different words about databases and spark " * 5
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, far))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(fp(0L) == fp(1L))
    assert(ham(fp(0L), fp(2L)) < ham(fp(0L), fp(3L)))
  }

  test("leak-safe splits: no near-dup pair straddles, mass tracks the cuts") {
    import graft.llm.Corpus
    val assigned = Corpus.leakSafeSplits(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // by construction: same cluster → same split, so the audit over
    // this assignment is EMPTY at the same Hamming radius
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(assigned(a)._2 == assigned(b)._2,
        s"pair ($a, $b) straddles ${assigned(a)._2}/${assigned(b)._2}")
    }
    assigned.foreach { case (_, (cluster, split)) =>
      assert(assigned(cluster)._2 == split, "cluster rep split differs")
    }
    // md5-uniform cluster ids keep the mass near the cuts (loose
    // bound: train ∈ [80%, 97%] of docs at 90% target on the fixture)
    val trainFrac = assigned.values.count(_._2 == "train").toDouble /
      assigned.size
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train frac $trainFrac")
  }

  test("quality gate: keeps exactly the scores above the sketch threshold") {
    val kept = Corpus.qualityGate(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(kept.nonEmpty)
    // the threshold is per-language and every kept row clears it
    kept.values.foreach { case (_, q, thr) => assert(q >= thr) }
    // completeness: every scored doc at-or-above its language's
    // threshold is kept, every one below is dropped
    val scoredAll = TextOps.qualityScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("quality")).collect()
      .filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val thrByLang = kept.values.map { case (l, _, t) => l -> t }.toMap
    scoredAll.foreach { case (id, lang, q) =>
      assert(kept.contains(id) == (q >= thrByLang(lang)),
        s"doc $id lang $lang q $q thr ${thrByLang(lang)}")
    }
    // the gate actually gates: strictly fewer rows than scored docs,
    // but at keepFrac=0.5 it keeps a large minority at least
    assert(kept.size < scoredAll.length)
    assert(kept.size > scoredAll.length / 4)
  }

  test("weighted sample: exact size, weight-biased, deterministic") {
    import spark.implicits._
    // 200 docs in one "language": 100 heavy (quality ≈ 0.9: long text,
    // no stopwords) and 100 light (quality ≈ 0.1: the same token count
    // but ~90% stopwords) — A-ES with a 9:1 weight ratio must
    // overrepresent heavy docs in a 50-of-200 draw
    val heavy = Seq.fill(110)("zephyr").mkString(" ")
    val light = (Seq.fill(99)("the") ++ Seq.fill(11)("zephyr")).mkString(" ")
    val df = (0 until 200).map(i =>
        (i.toLong, "xx", if (i < 100) heavy else light))
      .toDF("doc_id", "lang", "text")
    val got = Corpus.weightedSample(df, n = 50).collect()
      .map(r => (r.getLong(0), r.getInt(3)))
    assert(got.length == 50)
    assert(got.map(_._2).sorted.toSeq == (1 to 50))
    val nHeavy = got.count(_._1 < 100)
    // E[heavy] ≈ 45 at a 9:1 ratio; even a loose bound separates it
    // decisively from the unweighted 25
    assert(nHeavy > 35, s"heavy docs drawn: $nHeavy of 50")
    // deterministic under repartitioning (hash keys, not rand)
    val again = Corpus.weightedSample(df.repartition(7, col("doc_id")), n = 50)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(again.sortBy(_._2).toSeq == got.sortBy(_._2).toSeq)
    // zero-weight docs (all-stopword text → quality 0) are ineligible
    val allStop = (0 until 10).map(i =>
        (1000L + i, "yy", Seq.fill(20)("the").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    assert(Corpus.weightedSample(allStop, n = 5).count() == 0)
  }

  test("lm score: handcrafted bigram likelihoods, short-doc NULL edge") {
    import spark.implicits._
    // corpus bigrams: "a b" ×2 ("a b", and inside "a b c"), "b c" ×1,
    // contexts: C(a·)=2, C(b·)=1 → P(b|a)=1, ... wait — spell it out:
    // doc0 "a b"   → bigrams: (a b)
    // doc1 "a b c" → bigrams: (a b), (b c)
    // doc2 "x"     → no bigrams
    // C(a b)=2, C(b c)=1; C(a·)=2, C(b·)=1
    // P(b|a) = 2/2 = 1 → ln 1 = 0;  P(c|b) = 1/1 = 1 → ln 1 = 0
    val degenerate = Seq((0L, "a b"), (1L, "a b c"), (2L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.lmScore(degenerate).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((0L, 1, Some(0.0)), (1L, 2, Some(0.0)),
      (2L, 0, None)))
    // a real split: "a b" twice vs "a c" once → P(b|a)=2/3, P(c|a)=1/3
    val mixed = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"))
      .toDF("doc_id", "text")
    val m = TextOps.lmScore(mixed).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(m(0L) == r4(math.log(2.0 / 3)))
    assert(m(2L) == r4(math.log(1.0 / 3)))
    // the common phrase scores HIGHER than the rare one — the quality
    // signal the filter keys on
    assert(m(0L) > m(2L))
  }

  test("lmScoreKn: hand-computed interpolated KN probabilities") {
    import spark.implicits._
    // bigrams: (a b)×2, (a c)×1 → cw(a)=3, t1(a)=2, tc(b)=tc(c)=1,
    // T=2, D=0.75:
    //   P(b|a) = (2−.75)/3 + (.75·2/3)·(1/2) = 2/3
    //   P(c|a) = (1−.75)/3 + (.75·2/3)·(1/2) = 1/3   (sums to 1)
    val mixed = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"))
      .toDF("doc_id", "text")
    val m = TextOps.lmScoreKn(mixed).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val pb = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1.0 / 2)
    val pcv = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1.0 / 2)
    assert(m(0L) == r4(math.log(pb)))
    assert(m(2L) == r4(math.log(pcv)))
    assert(m(0L) > m(2L))
    // KN discounts the common phrase relative to plain MLE (mass
    // reserved for the continuation term): P_KN(b|a) < 2/3 + eps
    assert(pb < 2.0 / 3 + 1e-12 && pcv > 1.0 / 3 - 1e-12)
  }

  test("top ngrams: local prune equals the naive global window at any layout") {
    import org.apache.spark.sql.expressions.Window
    // independent derivation: full global window, no pruning
    val toks = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("w"))
    val grams = toks.where(size(col("w")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), size(col("w")) - 2)).as("i"), col("w"))
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", slice(col("w"), col("i"), lit(3))).as("gram"))
    val naive = grams.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("doc_id")).cast("int").as("df"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("gram"))).cast("int"))
      .where(col("rank") <= 5)
      .select("lang", "rank", "gram", "cnt", "df")
      .collect().map(_.toSeq).toSet
    // different partition layouts exercise different local-prune splits
    for (parts <- Seq(1, 7, 32)) {
      val got = TextOps.topNgrams(docs.repartition(parts)).collect()
        .map(_.toSeq).toSet
      assert(got == naive, s"layout $parts diverged")
    }
  }

  test("paragraph dedup: planted viral span rides the broadcast route, same answer") {
    import spark.implicits._
    // one 20-token boilerplate span in every doc + one unique span per
    // doc: with viralDf below the span's df, its claim must take the
    // broadcast route while unique spans stay on the shuffled join —
    // and the kept set must be byte-identical to the uncapped run
    val span = (1 to 20).map(i => s"vir$i").mkString(" ")
    val df = (0 until 12).map { j =>
      (j.toLong, span + " " + (1 to 20).map(i => s"u${j}x$i").mkString(" "))
    }.toDF("doc_id", "text")
    val capped = Dedup.paragraphDedup(df, 20, viralDf = 4)
    val uncapped = Dedup.paragraphDedup(df, 20, viralDf = 1000)
    val got = capped.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val want = uncapped.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == want.toSeq)
    // doc 0 claims the viral span; every other doc keeps only its
    // unique segment
    assert(got(0) == ((0L, 2, 2, span + " " + (1 to 20)
      .map(i => s"u0x$i").mkString(" "))))
    (1 until 12).foreach { j =>
      assert(got(j) == ((j.toLong, 2, 1,
        (1 to 20).map(i => s"u${j}x$i").mkString(" "))), s"doc $j")
    }
    // the viral route actually engaged: the physical plan carries a
    // broadcast exchange alongside the shuffled claim join
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"no broadcast route in:\n$plan")
  }

  test("simhash64: locality, and the 16-bit band join is pigeonhole-complete") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val near = base.replace("lazy", "sleepy")
    val far = "completely different words about databases and spark " * 5
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, far))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(df, Dedup.simhashBits64).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(fp.values.forall(_.length == 64))
    assert(fp(0L) == fp(1L))
    assert(ham(fp(0L), fp(2L)) < ham(fp(0L), fp(3L)))
    // completeness on the fixture corpus: the banded candidate join
    // must produce EXACTLY the brute-force ≤3-Hamming pair set over
    // the 64-bit fingerprints (pigeonhole: <4 differing bits must
    // leave one of the 4 16-bit bands untouched)
    val fps = Dedup.simhash(docs, Dedup.simhashBits64).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = ham(fa, fb) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashPairs(docs, bits = Dedup.simhashBits64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    assert(brute.nonEmpty, "fixture must exercise the 64-bit pair path")
  }

  test("simhash64 delta == full 64-bit pairs restricted to involving-new") {
    val isNew: Long => Boolean = _ % 3 == 0
    val full = Dedup.simhashPairs(docs, bits = Dedup.simhashBits64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, _) => isNew(a) || isNew(b) }.toSet
    val delta = Dedup.simhashPairsDelta(docs, col("doc_id") % 3 === 0,
        bits = Dedup.simhashBits64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(delta == full)
  }

  test("dup clusters at 64 bits equal union-find over the 64-bit pair graph") {
    val pairs = Dedup.dupClusters(docs, bits = Dedup.simhashBits64)
    val edges = Dedup.simhashPairs(docs, bits = Dedup.simhashBits64).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.map(i => i -> find(i)).toMap
    val got = pairs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("dup clusters equal union-find over the simhash pair graph") {
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    // reference union-find on the same edge set
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.map(i => i -> find(i)).toMap
    val got = Dedup.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (id, root) =>
      assert(got(id)._1 === root, s"doc $id cluster")
    }
    val sizes = expect.values.groupBy(identity).map { case (k, v) => k -> v.size }
    got.foreach { case (id, (cl, sz, canon)) =>
      assert(sz === sizes(cl), s"doc $id cluster size")
      assert(canon === (id == cl), s"doc $id canonical flag")
    }
    // fixture actually exercises merging: at least one multi-doc cluster
    assert(sizes.values.max > 1)
  }

  test("connected components: chain, star, singleton, and two merged paths") {
    import spark.implicits._
    // one 64-node chain (diameter 63 — forces many pointer-jump
    // rounds), a star at 100, two paths that meet (200s), singletons
    val chain = (0L until 63L).map(i => (i, i + 1))
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L))
    val vee = Seq((200L, 202L), (201L, 202L))
    val edges = (chain ++ star ++ vee).toDF("a", "b")
    val nodes = ((0L to 63L) ++ (100L to 103L) ++
      (200L to 202L) ++ Seq(300L)).toDF("id")
    val got = graph.ConnectedComponents.run(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 63L).foreach(i => assert(got(i) === 0L, s"chain node $i"))
    (100L to 103L).foreach(i => assert(got(i) === 100L))
    (200L to 202L).foreach(i => assert(got(i) === 200L))
    assert(got(300L) === 300L)
    assert(got.size === 72)
  }

  test("repetition stats: handcrafted duplicate fractions") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d"),            // 3 bigrams, all distinct
      (1L, "a b a b a b"),        // bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct, max 3
      (2L, "x"),                  // too short: absent from output
      (3L, "w w w")               // ww,ww -> 2 total, 1 distinct, max 2
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(df).collect()
      .map(x => x.getLong(0) ->
        (x.getInt(1), x.getInt(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(!r.contains(2L))
    assert(r(0L) === ((3, 3, 0.0, 0.3333)))
    assert(r(1L) === ((5, 2, 0.6, 0.6)))
    assert(r(3L) === ((2, 1, 0.5, 1.0)))
  }

  test("repetition stats: map kernel equals string-keyed aggregate") {
    val a = TextOps.repetitionStats(docs).orderBy("doc_id").collect()
    val b = ReferenceForms.repetitionStatsViaAgg(docs).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("cluster dedup: exactly one keeper per cluster, and it has max quality") {
    val r = Dedup.clusterDedup(docs).cache()
    try {
      val perCluster = r.groupBy("cluster")
        .agg(sum(when(col("keep"), 1).otherwise(0)).as("keepers"),
          max("quality").as("maxq"))
      assert(perCluster.where(col("keepers") =!= 1).isEmpty)
      val winners = r.where(col("keep"))
        .join(perCluster, "cluster")
        .where(col("quality") < col("maxq"))
      assert(winners.isEmpty)
    } finally r.unpersist()
  }

  test("gopher filter: handcrafted rule hits") {
    import spark.implicits._
    val good = (Seq("the", "of", "a") ++ (1 to 37).map(i => s"tok$i"))
      .mkString(" ")                                 // 40 toks, has stopwords
    val df = Seq(
      (0L, good),                                    // passes everything
      (1L, "only five words right here"),            // too short (5 < 20)
      (2L, (1 to 40).map(i => s"w$i").mkString(" ")), // no stopword
      (3L, ("the quick " * 20).trim)                 // repetitive + stopword ok
    ).toDF("doc_id", "text")
    val r = TextOps.gopherFilter(df).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Boolean]("pass_length"), x.getAs[Boolean]("pass_stopword"),
          x.getAs[Boolean]("pass_repetition"), x.getAs[Boolean]("keep"))).toMap
    assert(r(0L) == ((true, true, true, true)))
    assert(!r(1L)._1 && !r(1L)._4)
    assert(!r(2L)._2 && !r(2L)._4)
    assert(r(3L)._2 && !r(3L)._3 && !r(3L)._4)
  }

  test("shard shuffle: deterministic, dense in-shard positions, salt re-deals") {
    import graft.llm.Corpus
    val a = Corpus.shardShuffle(docs).orderBy("doc_id").collect()
    val b = Corpus.shardShuffle(docs).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)   // reproducible across runs
    val byShard = a.groupBy(_.getAs[Int]("shard"))
    assert(byShard.size > 1)
    byShard.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("pos")).sorted.toSeq == (1 to rows.size))
    }
    val c = Corpus.shardShuffle(docs, salt = "ep1").orderBy("doc_id").collect()
    assert(c.toSeq != a.toSeq)   // epoch salt re-deals the deck
  }

  test("multimodal decode: partition streaming, raw fallback is a 1xN stream") {
    val frame = Multimodal.multimodalFrame(docs, embs)
    val decoded = Multimodal.decodePayloads(frame)
    assert(decoded.columns.takeRight(4).toSeq ==
      Seq("width", "height", "format", "pix_sum"))
    val row = decoded.orderBy("doc_id").limit(1).collect()(0)
    val payload = row.getAs[Array[Byte]]("payload")
    // text payloads are not PPM → the honest raw decode: 1×N bytes
    assert(row.getAs[String]("format") == "raw")
    assert(row.getAs[Int]("width") == payload.length)
    assert(row.getAs[Int]("height") == 1)
    assert(row.getAs[Long]("pix_sum") ==
      payload.map(b => (b & 0xFF).toLong).sum)
    assert(decoded.count() == frame.count())
  }

  test("ppm codec: handcrafted 4x2 image decodes, resamples, re-encodes exactly") {
    // 4×2 P6, maxval 255, pixel (x,y) = (10x+y, 100+x, 200+y)
    val pixels = (for {
      y <- 0 until 2; x <- 0 until 4
      b <- Seq(10 * x + y, 100 + x, 200 + y)
    } yield b.toByte).toArray
    val img = Multimodal.PpmImage(4, 2, 255, pixels)
    val bytes = Multimodal.encodePpm(img)
    assert(new String(bytes.take(11), "US-ASCII") == "P6\n4 2\n255\n")
    val back = Multimodal.decodePpm(bytes).get
    assert(back.width == 4 && back.height == 2 && back.maxVal == 255)
    assert(back.pixels.toSeq == pixels.toSeq)
    // a comment in the header is legal netpbm and must parse
    val commented = ("P6\n# a comment\n4 2\n255\n".getBytes("US-ASCII")
      ++ pixels)
    assert(Multimodal.decodePpm(commented).get.pixels.toSeq == pixels.toSeq)
    // truncated pixel data / wrong magic → raw fallback, not a crash
    assert(Multimodal.decodePpm(bytes.dropRight(1)).isEmpty)
    assert(Multimodal.decodePpm("P5\n4 2\n255\n".getBytes).isEmpty)
    // maxBytes 24 forces stride 2: out dims 2×1, header "P6\n2 1\n255\n"
    // (11 bytes) + 6 pixel bytes = 17 ≤ 24; stride-1 would be 35
    val small = Multimodal.resamplePpm(img, 24)
    assert(small.width == 2 && small.height == 1)
    // nearest-neighbor, top-left anchor: out(0,0)=in(0,0), out(1,0)=in(2,0)
    val expect = Seq(0, 100, 200, 20, 102, 200).map(_.toByte)
    assert(small.pixels.toSeq == expect)
    // dispatch: resample() routes PPM through the pixel path…
    val resized = Multimodal.resample(bytes, 24)
    assert(Multimodal.decodePpm(resized).get.pixels.toSeq == expect)
    // …and non-PPM through the byte-stride path
    val raw = Array.tabulate[Byte](10)(_.toByte)
    assert(Multimodal.resample(raw, 5).toSeq ==
      Seq[Byte](0, 2, 4, 6, 8))
  }

  test("wav codec: round-trip, chunk walking, malformed fallback, features") {
    import org.apache.spark.sql.functions.{col => c}
    // 16-bit signed extremes + a sign pattern round-trip exactly
    val samples = Array[Short](0, 100, -100, 32767, -32768, 1, -1)
    val wav = Multimodal.encodeWav(Multimodal.WavAudio(8000, samples))
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val back = Multimodal.decodeWav(wav).get
    assert(back.sampleRate == 8000 && back.samples.toSeq == samples.toSeq)
    // an extra chunk BEFORE fmt/data must be walked over (odd size →
    // even padding), per RIFF
    val extra = java.nio.ByteBuffer
      .allocate(wav.length + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(wav, 0, 12)
      .put("LIST".getBytes("US-ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3, 0))
      .put(wav, 12, wav.length - 12).array()
    assert(Multimodal.decodeWav(extra).get.samples.toSeq == samples.toSeq)
    // malformed: wrong magic, truncated data, stereo → None
    assert(Multimodal.decodeWav("RIFX".getBytes ++ wav.drop(4)).isEmpty)
    assert(Multimodal.decodeWav(wav.dropRight(2) :+ 0.toByte).isEmpty)
    val stereo = wav.clone(); stereo(22) = 2 // channel count LE byte
    assert(Multimodal.decodeWav(stereo).isEmpty)
    // features on a handcrafted 2-window stream: [3,-4,3,-4] [5,0]
    import spark.implicits._
    val df = Seq((7L, Multimodal.encodeWav(Multimodal.WavAudio(8000,
      Array[Short](3, -4, 3, -4, 5, 0))))).toDF("doc_id", "payload")
    val f = Multimodal.audioFeatures(Multimodal.decodeWavFrame(df),
      windowSamples = 4).orderBy(c("win")).collect()
    assert(f.length == 2)
    assert(f(0).getInt(2) == 4 && f(0).getLong(3) == 50L &&
      f(0).getInt(4) == 4 && f(0).getInt(5) == 3)
    // window 2: [5, 0] → energy 25, peak 5, zero-cross 0 (0 is nonneg)
    assert(f(1).getInt(2) == 2 && f(1).getLong(3) == 25L &&
      f(1).getInt(4) == 5 && f(1).getInt(5) == 0)
  }

  test("quantized ANN: kernel equals HOF spec; high recall vs exact top-5") {
    import graft.functions.{QuantizeI8, QuantizedDot}
    // kernel pin: QuantizedDot(q, q) over QuantizeI8 codes equals the
    // interpreted transform/aggregate formulation of the same scheme
    val v = col("embedding").cast("array<double>")
    val s = array_max(transform(v, x => abs(x))) / 127
    val hofQ = transform(v, x =>
      when(s === 0, lit(0)).otherwise(floor(x / s + 0.5).cast("int")))
    val hofN2 = aggregate(zip_with(hofQ, hofQ, (a, b) => a * b),
      lit(0), (acc, x) => acc + x)
    val mism = embs.select(
        QuantizedDot(QuantizeI8(v), QuantizeI8(v)).as("k"),
        hofN2.as("h"))
      .where(col("k") =!= col("h")).count()
    assert(mism == 0)
    // int8 on 64 dims barely moves top-5 cosine ranks: expect recall
    // well above the LSH floor (measured 1.0 on the frozen fixture)
    val brute = Similarity.bruteForceTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(embs, col("vec_id") < 10, 5)
      .select("qid", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (quant & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"quantized recall $recall")
  }

  test("pii redaction: url then email then long-number cascade") {
    import spark.implicits._
    val in = Seq(
      (1L, "see https://a.b/c?x=1 mail bob@ex.org acct 12345678 end"),
      (2L, "short 123456 is kept bob@ex.org twice jan@ex.co.uk"),
      (3L, "no pii at all")).toDF("doc_id", "text")
    val out = TextOps.redactPii(in).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("red_text") ==
      "see <URL> mail <EMAIL> acct <NUM> end")
    assert(out(0).getAs[Int]("n_urls") == 1)
    assert(out(0).getAs[Int]("n_emails") == 1)
    assert(out(0).getAs[Int]("n_nums") == 1)
    // 6-digit number below the ≥7 threshold survives; two emails mask
    assert(out(1).getAs[String]("red_text") ==
      "short 123456 is kept <EMAIL> twice <EMAIL>")
    assert(out(1).getAs[Int]("n_emails") == 2)
    assert(out(2).getAs[String]("red_text") == "no pii at all")
    assert((out(2).getAs[Int]("n_urls"), out(2).getAs[Int]("n_emails"),
      out(2).getAs[Int]("n_nums")) == ((0, 0, 0)))
  }

  test("paragraph dedup: first occurrence survives, repeats drop, order kept") {
    import spark.implicits._
    // window = 2 → doc 1: [a b][c d][e f]; doc 2 repeats [c d] and
    // adds its own [x y]; doc 3 is ENTIRELY doc 1's first segment
    val in = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "a b")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(in, window = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") == "a b c d e f")
    assert((out(0).getAs[Int]("n_seg"), out(0).getAs[Int]("n_kept")) ==
      ((3, 3)))
    assert(out(1).getAs[String]("clean_text") == "x y")
    assert((out(1).getAs[Int]("n_seg"), out(1).getAs[Int]("n_kept")) ==
      ((2, 1)))
    // doc 3 loses everything but keeps its row
    assert(out(2).getAs[String]("clean_text") == "")
    assert((out(2).getAs[Int]("n_seg"), out(2).getAs[Int]("n_kept")) ==
      ((1, 0)))
  }

  test("paragraph dedup invariants on the fixture: global uniqueness, " +
      "conservation, idempotence") {
    val out = Dedup.paragraphDedup(docs).cache()
    // every surviving window-segment is globally unique afterwards
    val resegmented = out.where(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    val again = Dedup.paragraphDedup(resegmented)
    // idempotence: re-running the pass drops nothing more — all
    // segments of the cleaned corpus are already unique. (Reassembly
    // can merge a short tail with the next doc's words ONLY across
    // re-tokenization if counts changed; pin via n_kept totals.)
    val dropped = again.agg(sum(col("n_seg") - col("n_kept"))).collect()(0)
    assert(dropped.getLong(0) == 0L)
    // conservation: kept counts never exceed totals, and the fixture
    // really exercises removal
    val bad = out.where(col("n_kept") > col("n_seg")).count()
    assert(bad == 0)
    assert(out.where(col("n_kept") < col("n_seg")).count() > 0)
    out.unpersist()
  }

  test("paragraph dedup: intra-doc repeat keeps one copy; short tail segment") {
    import spark.implicits._
    // doc 1: [p q][p q][r] — the repeated [p q] inside ONE doc keeps
    // only its first occurrence; trailing segment shorter than window
    val in = Seq((1L, "p q p q r")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(in, window = 2).collect()
    assert(out(0).getAs[String]("clean_text") == "p q r")
    assert((out(0).getAs[Int]("n_seg"), out(0).getAs[Int]("n_kept")) ==
      ((3, 2)))
  }

  test("containmentPairs: embedded doc found at c=1.0 where jaccard dilutes; " +
      "viral shingle vanishes under the cap") {
    import spark.implicits._
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val smallInside = (21 to 30).map(i => s"w$i").mkString(" ") // ⊂ big
    val unrelated = (100 to 130).map(i => s"x$i").mkString(" ")
    val in = Seq((0L, big), (1L, smallInside), (2L, unrelated))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(in, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    // the embedded doc: all 8 of its 3-shingles hit big → c(B→A)=1.0,
    // while jaccard 8/58 ≈ 0.14 would never clear a 0.3 gate
    assert(out.keySet == Set((0L, 1L)))
    val (common, na, nb, ab, ba) = out((0L, 1L))
    assert(common == 8 && na == 58 && nb == 8)
    assert(ab == BigDecimal(8.0 / 58).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble && ba == 1.0)
    // a shingle shared by MORE than maxDf docs is dropped before the
    // pair join: 5 copies of one viral doc pair freely at cap 64 but
    // not at cap 4 (every shingle's df is 5)
    val viral = (0 until 5).map(i =>
      (10L + i, (1 to 20).map(j => s"v$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPairs(viral, 3, 0.5, maxDf = 64).count() == 10)
    assert(Dedup.containmentPairs(viral, 3, 0.5, maxDf = 4).count() == 0)
  }

  test("containmentPairsDelta equals the full pair set filtered to involving-new") {
    val isNew = col("doc_id") % 3 === 0
    val full = Dedup.containmentPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val delta = Dedup.containmentPairsDelta(docs, isNew, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == full.filter { case (a, b) => a % 3 == 0 || b % 3 == 0 })
    assert(delta.nonEmpty && delta.size < full.size)
  }

  test("semDedup: dropped iff a lower-id same-cell vector is within threshold") {
    val t = 0.35
    val out = Similarity.semDedup(embs, t).collect()
    assert(out.length == embs.count()) // one verdict per vector
    val cell = out.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val keep = out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val vecs = embs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // same left-to-right sum order + HALF_UP 4-place round as the engine
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Long, b: Long): Double = BigDecimal(
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b)))))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    vecs.keys.foreach { x =>
      val expectDrop = vecs.keys.exists(y =>
        y < x && cell(y) == cell(x) && cos(x, y) >= t)
      assert(keep(x) == !expectDrop, s"vec $x keep=${keep(x)}")
    }
    // the rule actually fires on the fixture (some drops, some keeps)
    assert(keep.values.exists(_ == false) && keep.values.exists(_ == true))
  }

  test("hardNegatives: nearest DIFFERENT-label top-k, equals naive ranking") {
    val k = 5
    val out = Similarity.hardNegatives(embs, col("vec_id") < 5, k).collect()
    val rows = embs.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val label = rows.map(r => r._1 -> r._3).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val vecs = rows.map(r => r._1 -> r._2).toMap
    def cos(a: Long, b: Long): Double = BigDecimal(
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b)))))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      // every mined negative carries a label ≠ the query's
      rs.foreach { r =>
        assert(r.getInt(3) != label(qid))
        assert(r.getInt(3) == label(r.getLong(2)))
      }
      // ranks are 1..k and match the naive different-label ordering
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to k))
      val naive = vecs.keys.filter(x => x != qid && label(x) != label(qid))
        .toSeq.map(x => (x, cos(qid, x)))
        .sortBy { case (x, c) => (-c, x) }.take(k).map(_._1)
      assert(rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq == naive)
    }
    assert(out.map(_.getLong(0)).distinct.length == 5)
  }

  test("charEntropy: handcrafted histograms; empty and NULL docs absent") {
    import spark.implicits._
    val in = Seq((0L, "en", "aaaa"), (1L, "en", "ab"), (2L, "en", "abab"),
      (3L, "en", "abcd"), (4L, "en", ""), (5L, "en", null))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.charEntropy(in).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getFloat(4))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == ((4, 1, 0.0f)))  // one symbol → zero entropy
    assert(out(1L) == ((2, 2, 1.0f)))  // two equiprobable → 1 bit
    assert(out(2L) == ((4, 2, 1.0f)))  // length-invariant for same dist
    assert(out(3L) == ((4, 4, 2.0f)))  // four equiprobable → 2 bits
  }

  test("temperature mix: tail langs up-weighted, alpha=1 is identity") {
    val out = Corpus.mixWeightsTemperature(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getFloat(3), r.getFloat(4), r.getFloat(5))))
      .toMap
    // shares and tempered shares each normalize to ~1
    assert(math.abs(out.values.map(_._2.toDouble).sum - 1.0) < 1e-4)
    assert(math.abs(out.values.map(_._3.toDouble).sum - 1.0) < 1e-4)
    // temperature flattens: the token-richest language is down-
    // weighted, the token-poorest up-weighted
    val largest = out.maxBy(_._2._1)._1
    val smallest = out.minBy(_._2._1)._1
    assert(out(largest)._4 < 1.0f, s"head lang $largest must shrink")
    assert(out(smallest)._4 > 1.0f, s"tail lang $smallest must grow")
    // monotone: more tokens → smaller weight (strict when counts differ)
    val byTokens = out.values.toSeq.sortBy(_._1)
    byTokens.sliding(2).foreach {
      case Seq((n1, _, _, w1), (n2, _, _, w2)) =>
        if (n1 != n2) assert(w1 >= w2)
      case _ =>
    }
    // alpha = 1 reproduces the raw shares: every weight is 1
    Corpus.mixWeightsTemperature(docs, alpha = 1.0).collect()
      .foreach(r => assert(math.abs(r.getFloat(5) - 1.0f) < 2e-4f))
  }

  test("cluster-balanced sample: sqrt(n) curve, singletons always kept") {
    import spark.implicits._
    // ids 0..9: one planted near-dup cluster (identical text);
    // 100..119: distinct docs → singletons
    val dup = (0L until 10L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val rnd = new scala.util.Random(13)
    val singles = (100L until 120L).map { i =>
      val words = Seq.fill(14)(s"w${rnd.nextInt(100000)}x$i")
      (i, words.mkString(" "))
    }
    val in = (dup ++ singles).toDF("doc_id", "text")
    val out = Corpus.clusterBalancedSample(in).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out.size == 30)
    // the planted cluster: size 10, rate exactly sqrt(10)/10
    (0L until 10L).foreach { i =>
      val (c, n, rate, _) = out(i)
      assert(c == 0L && n == 10)
      assert(rate == math.sqrt(10.0) / 10.0)
    }
    // expected survivors ~ sqrt(10): the deterministic draw keeps
    // strictly fewer than the cluster and at least one
    val kept = (0L until 10L).count(out(_)._4)
    assert(kept >= 1 && kept < 10)
    // singletons: rate 1 and ALWAYS kept (u <= 65535/65536 < 1)
    (100L until 120L).foreach { i =>
      val (_, n, rate, keep) = out(i)
      assert(n == 1 && rate == 1.0 && keep)
    }
    // the precomputed-labels overload equals the composed form
    val viaLabels = Corpus
      .clusterBalancedSample(Dedup.dupClusters(in), "cbs")
      .collect().map(_.toSeq).toSet
    val composed = Corpus.clusterBalancedSample(in)
      .collect().map(_.toSeq).toSet
    assert(viaLabels == composed)
  }

  test("kmv overlap: exact below k; one-sided langs read zero overlap") {
    import spark.implicits._
    // lang "x": A = {w0..w9 windows}, B = shares a 6-token suffix →
    // known 3-shingle sets; lang "a-only" appears on one side only
    val aText = (0 until 10).map(i => s"a$i").mkString(" ")
    val bText = (5 until 15).map(i => s"a$i").mkString(" ")
    val a = Seq((1L, "x", aText), (2L, "aa", "p q r s t")).toDF("doc_id", "lang", "text")
    val b = Seq((3L, "x", bText)).toDF("doc_id", "lang", "text")
    val out = Corpus.kmvOverlap(a, b).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getFloat(5), r.getFloat(6)))).toMap
    // lang x: A has shingles over a0..a9 → 8; B over a5..a14 → 8;
    // shared = windows inside a5..a9 → 3; union = 13 < k → EXACT
    val (ka, kb, ku, kboth, j, est) = out("x")
    assert(ka == 8 && kb == 8 && ku == 13 && kboth == 3)
    assert(j == (BigDecimal(3.0 / 13).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toFloat))
    assert(est == 13.0f)
    // one-sided language: empty B sketch, zero overlap, exact union
    val (ka2, kb2, ku2, kboth2, j2, est2) = out("aa")
    assert(ka2 == 3 && kb2 == 0 && ku2 == 3 && kboth2 == 0)
    assert(j2 == 0.0f && est2 == 3.0f)
  }

  test("bloom-gated winnow/containment deltas == ungated, even saturated") {
    val isNew = col("doc_id") % 3 === 0
    def rows(f: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      f.collect().map(_.toSeq).toSet
    val wUngated = rows(Dedup.winnowedPairsDelta(docs, isNew))
    assert(wUngated.nonEmpty)
    // honest grid and a saturated 64-bit all-fp grid: both identical
    assert(rows(Dedup.winnowedPairsDeltaBloom(docs, isNew)) == wUngated)
    assert(rows(Dedup.winnowedPairsDeltaBloom(docs, isNew,
      m = 64, d = 1)) == wUngated)
    val cUngated = rows(Dedup.containmentPairsDelta(docs, isNew))
    assert(cUngated.nonEmpty)
    assert(rows(Dedup.containmentPairsDeltaBloom(docs, isNew)) == cUngated)
    assert(rows(Dedup.containmentPairsDeltaBloom(docs, isNew,
      m = 64, d = 1)) == cUngated)
    val jUngated = rows(Dedup.jaccardPairsDelta(docs, isNew))
    assert(jUngated.nonEmpty)
    assert(rows(Dedup.jaccardPairsDeltaBloom(docs, isNew)) == jUngated)
    assert(rows(Dedup.jaccardPairsDeltaBloom(docs, isNew,
      m = 64, d = 1)) == jUngated)
    // a NULLABLE newness predicate: NULL-nw rows act as old on both
    // paths (the ungated join's NULL || TRUE keeps their pairs with
    // new docs; the gate must route them through the bloom, not drop
    // them from both sides)
    val nullableNew = when(col("doc_id") % 5 === 0,
      lit(null).cast("boolean")).otherwise(col("doc_id") % 3 === 0)
    assert(rows(Dedup.winnowedPairsDeltaBloom(docs, nullableNew)) ==
      rows(Dedup.winnowedPairsDelta(docs, nullableNew)))
  }

  test("noveltyScore: duplicates read 0, fresh content 1, overlap mid") {
    import spark.implicits._
    val in = Seq(
      (0L, "u1 u2 u3 u4 u5"),       // all shingles unique → 1.0
      (1L, "c1 c2 c3 c4"),          // exact dup of 2 → 0.0
      (2L, "c1 c2 c3 c4"),
      (3L, "c1 c2 c3 m1 m2"),       // shares {c1 c2 c3} with 1/2; the
                                    // other two 3-grams are its own
      (4L, "x y"))                  // < 3 tokens → out of contract
      .toDF("doc_id", "text")
    val out = TextOps.noveltyScore(in).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getFloat(3))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == ((3, 3, 1.0f)))
    assert(out(1L) == ((2, 0, 0.0f)) && out(2L) == ((2, 0, 0.0f)))
    // doc 3: shingles {c1 c2 c3, c2 c3 m1, c3 m1 m2}; the first also
    // lives in docs 1/2 → 2 of 3 novel
    assert(out(3L) == ((3, 2, BigDecimal(2.0 / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toFloat)))
  }

  test("editVerifiedPairs: candidates carry true edit distance; cap filters") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base),                       // exact dup: hamming 0, edit 0
      (3L, base.replace("w7 ", "w7x ")),// one-char insert: tiny edit
      (4L, "entirely different content " + (1 to 40)
        .map(i => s"z$i").mkString(" "))) // no candidate pair expected
      .toDF("doc_id", "text")
    val got = Dedup.editVerifiedPairs(docs, maxEdit = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert(got(1L -> 2L) == 0)
    assert(got.get(1L -> 3L).forall(_ == 1)) // if banded-candidate, edit is 1
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // verified output is a SUBSET of the candidate family
    val cand = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.keySet.subsetOf(cand))
    // a zero cap keeps only byte-identical prefixes
    val strict = Dedup.editVerifiedPairs(docs, maxEdit = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set(1L -> 2L))
  }
}
