package graft
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Benchmark main — runs every registered query on SPARK_GRAFT_SF_DIR
  * and emits ONE JSON line the driver parses.
  *
  * Each query is forced end-to-end with a full-column hash aggregate
  * (`bit_xor(xxhash64(struct(*)))`) rather than `.count()`: under `count()`
  * Catalyst prunes every projected column, so projection-only queries
  * (q02, q13, …) would measure only scan metadata. The hash sink reads,
  * computes, and reduces every output column while collecting just one
  * row to the driver.
  *
  * Noise robustness (r5 lesson): a single-sample run on a co-located
  * machine can inflate a contiguous stretch of queries 3–11× (the r5
  * driver artifact measured 154.8s where two independent runs of the
  * same code measured 96.5/101.9s). The bench therefore takes
  * SPARK_GRAFT_BENCH_SAMPLES (default 3) samples per query and reports
  * the per-query MEDIAN. Samples are taken in separate interleaved
  * passes over the whole query list — not back-to-back per query — so
  * a time-localized load burst lands in at most one sample of any
  * query and the median discards it. All raw samples are recorded in
  * bench_queries.json under "samples".
  *
  * Wall-time control (r13): queries whose every sample so far ran
  * under SPARK_GRAFT_BENCH_FAST_CUTOFF (default 0.5 s) are not
  * re-sampled on later passes — a burst can only inflate a sample, so
  * a sub-cutoff measurement proves the query fast — and a query whose
  * first TWO samples agree within 25% skips the third (a burst in
  * either pass breaks the agreement, so unstable measurements still
  * get the full set); `b_*` builds always keep full median-of-N. The artifact reports the
  * skipped count (`fast_single_sample`) and, for the dominant `b_*`
  * entries, the raw [min,max] sample spread (`build_spread`) so a
  * run-to-run instability like r13's b_dist_brandes 27↔125 s swing is
  * adjudicable from the compact line alone.
  *
  * Contention robustness (r16): every measured sample gets an ADJACENT
  * ~50 ms frozen micro-probe and normalizes by it against the
  * most-idle probe of the run — mid-pass bursts the pass-boundary
  * calibration cannot see (the BENCH_r15 failure mode) now correct
  * per sample. The headline carries `value_min` (sum of per-query min
  * raw samples — the noise-floor estimator; bursts only inflate) and
  * `value_kind` marks the normalized semantics of `value`. Shared
  * `b_*` builds are timed in a DEDICATED repeat block before the query
  * passes and billed once, instead of re-executing (and absorbing
  * contention) inside every pass; the block's last rebuild leaves all
  * caches warm so every query pass sees identical bundle state.
  *
  * Failures are NOT swallowed, but one bad PASS does not condemn a
  * working query: a query is `"failed"` (−1 in the per-query map,
  * nonzero exit) only when EVERY pass threw; a query that threw on
  * some pass but succeeded on another keeps the median of its
  * successful samples and is listed under `"flaky"` so the driver can
  * tell a transient (memory pressure, load burst) from a broken query.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // parsed once: empty, overflowing or `*` values stay strings
    val cpusN = scala.util.Try(cpus.toInt).toOption
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt.max(1)
    // queries measuring under this on every sample so far skip later
    // passes (single-sample mode); 0 disables the skip entirely
    val fastCutoff = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_FAST_CUTOFF", "0.5").toDouble
    val spark = SessionTuning.local(cpus, cpus, "WARN")
    // Absorb JVM/codegen/session warm-up outside the measured loop so
    // the alphabetically-first query doesn't carry it (r1: the first
    // query absorbed ~10s of warm-up). The warm-up must include a real
    // parquet read: spark.range alone left ~2s of parquet-reader/codec
    // init inside q01 (r2 measured q01 at 3.1s vs ~1s steady-state).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try {
      // warm the real read paths of the first measured queries: lineitem
      // (q01's scan) and events (the nanos-timestamp table) prime the
      // parquet reader, codec, footer cache, and conversion codegen.
      // Note the residual q01-vs-q09 gap is NOT warm-up: fixture files
      // are single-row-group, so every scan is one task and q01 pays
      // its 7-column arithmetic single-threaded.
      for (t <- Seq("region", "lineitem", "events")) {
        spark.read.parquet(s"$sfDir/$t.parquet")
          .select(xxhash64(struct(col("*"))).as("h"))
          .agg(expr("bit_xor(h)")).collect()
      }
    } catch { case _: Throwable => () } // warm-up must never fail the bench
    // Fixed CALIBRATION probe (r8 verdict): an unchanging measurement —
    // full lineitem scan → groupBy(l_returnflag) 4-way agg. This code is
    // frozen: never registered, never optimized. Drift adjudication
    // becomes mechanical — divide a suspect per-query ratio between two
    // artifacts by their calib_sec ratio before calling it a regression.
    def calibProbe(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(expr("sum(l_quantity)"), expr("sum(l_extendedprice)"),
          expr("avg(l_discount)"), expr("count(*)"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    // median-of-3 AFTER warm-up, recorded as calib_sec (the r8 contract)
    val calibSec =
      math.rint(median((1 to 3).map(_ => calibProbe())) * 1000) / 1000
    // MICRO-calibration probe (r15 verdict item #1): BENCH_r15 proved
    // contention is finer-grained than a pass — a mid-pass burst
    // inflated two contiguous query stretches 3–6× while the
    // pass-boundary probe read only 2.7× off, and with 2 of 3 samples
    // hit the median kept a bad one. So a frozen ~25 ms CPU probe runs
    // ADJACENT to every measured sample and each sample normalizes by
    // ITS OWN probe, not by the pass-boundary value. The probe is an
    // ALLOCATION-FREE driver-side integer loop on purpose: it measures
    // the CPU cycles host contention actually steals, while staying
    // immune to the JVM-state noise (GC backlog, JIT queues after a
    // heavy query) that made a Spark-job probe spread 3× on an idle
    // box (measured before landing). Like calibProbe, this code is
    // frozen: never registered, never optimized.
    var microSink = 0L
    def microProbe(): Double = {
      val t0 = System.nanoTime()
      var acc = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 20000000L) {
        acc = acc * 6364136223846793005L + i
        acc ^= (acc >>> 29)
        i += 1
      }
      microSink = acc // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    microProbe() // absorb the probe's own JIT warm-up
    val only = args.toSet // optional query-name filter for local iteration
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
    // SHARED-BUILD line items (r12 advice, restructured per r15 #2):
    // the memoized bundles (co-purchase edges, triangle bundle, BM25
    // run, unigram training, Lloyd k-means, …) are timed as their own
    // `b_*` entries in a DEDICATED repeat block BEFORE the query
    // passes — cleared and rebuilt nSamples times back-to-back, median
    // recorded, counted ONCE in the total — instead of re-executing
    // inside every query pass, where they absorbed the worst of the
    // driver-host contention (r15 build_spread [14.9, 195.2] on
    // b_dist_brandes) and re-billed deterministic inputs per pass.
    // The block's LAST rebuild leaves every cache warm, so all query
    // passes see identical bundle state. Name-sorted =
    // dependency-ordered (copurchase_edges < tri_bundle), so a
    // dependent bundle's time is only its own increment. Filtered
    // local runs skip the explicit phase (the first consuming sample
    // pays the build, as before).
    // filtered runs may name `b_*` entries to time JUST those builds
    // in the dedicated repeat block (local optimization iteration);
    // unnamed builds keep the lazy first-consumer behavior.
    val sharedBuilds =
      if (only.isEmpty) SharedBuilds.all
      else SharedBuilds.all.filter(b => only.contains("b_" + b.name))
    // pass-major sampling: all queries once, then again — see scaladoc.
    // Each sample remembers its PASS and its adjacent micro-probe
    // reading so it can be normalized per sample.
    val samples =
      collection.mutable.Map.empty[String, List[(Int, Double, Double)]]
        .withDefaultValue(Nil)
    val errors = collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    // rep 0 is an UNRECORDED warm-up: the first execution of each
    // build's heavy plan carries one-off JIT/codegen compilation that
    // inflated rep-1 spreads past the 2× adjudication bar even on a
    // quiet box (measured: b_tri_bundle [8.9, 15.1] at sf0.01 with
    // rep 1 always the outlier); the recorded reps then measure
    // steady-state rebuild cost, which is the number a regression
    // audit should compare.
    for (rep <- 0 to nSamples) {
      for (b <- sharedBuilds) b.clear(spark)
      for (b <- sharedBuilds) {
        val bn = "b_" + b.name
        // guide §1.5: label jobs so an event-log profile attributes
        // every job to its bench entry
        spark.sparkContext.setJobDescription(s"$bn rep$rep")
        val mp = microProbe()
        val t0 = System.nanoTime()
        try {
          b.force(spark, sfDir)
          if (rep > 0) samples(bn) =
            samples(bn) :+ ((rep, (System.nanoTime() - t0) / 1e9, mp))
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[bench] $bn FAILED (build rep $rep): ${e.getMessage}")
            if (rep > 0) errors(bn) += 1
        }
      }
    }
    // PER-PASS calibration (r10/r11 verdict item #1): the single
    // pre-run probe cannot see a mid-run load burst. The frozen probe
    // runs again at the START of every sample pass; calib_per_pass
    // keeps the artifact self-adjudicating at pass grain (drift
    // flagging below still reads it) — the normalized medians now use
    // the finer per-sample micro probes.
    val calibPerPass = Array.fill(nSamples)(0.0)
    for (pass <- 1 to nSamples) {
      // median-of-3 probes per pass (r12 advice): a single unreplicated
      // 0.3–0.6 s probe rescaled ~300 samples; the median de-noises it
      // for ~1 s of extra wall per pass.
      calibPerPass(pass - 1) =
        math.rint(median((1 to 3).map(_ => calibProbe())) * 1000) / 1000
      for ((name, fn) <- queryList) {
        // FAST-QUERY single-sample mode (r13 verdict item #8): a query
        // whose every sample so far ran under the cutoff is genuinely
        // fast — load bursts only INFLATE a measurement, so a
        // sub-cutoff pass-1 sample cannot hide a slow query — and is
        // not re-sampled on later passes. At r13's shape this skips
        // ~200 sub-0.5 s queries × 2 passes (~2/3 of their bench wall)
        // while every `b_*` build and every slow query keeps full
        // median-of-3 regression visibility. Skipped queries are
        // counted in the artifact (`fast_single_sample`) — no silent
        // caps.
        val allFast = samples(name).nonEmpty &&
          samples(name).forall(_._2 < fastCutoff)
        // STABLE-PAIR mode (same verdict item): two samples agreeing
        // within 25% prove a quiet measurement — a burst in either
        // pass breaks the agreement and the third sample runs. On the
        // r14 shape this drops ~150 third samples (~5 min of wall)
        // at +1.9% mean deviation vs median-of-3 (measured before
        // enabling). `b_*` builds never skip (the dominant entries
        // keep full spread).
        val vs = samples(name).map(_._2)
        val stablePair = vs.length >= 2 && vs.min > 0 &&
          (vs.max - vs.min) / vs.min < 0.25
        if (pass > 1 && allFast) ()
        else if (pass > 2 && stablePair) ()
        else {
        spark.sparkContext.setJobDescription(s"$name pass$pass")
        val mp = microProbe()
        val t0 = System.nanoTime()
        try {
          // bit_xor (not sum): xxhash64 values span the full long range
          // and ANSI mode (Spark 4 default) faults on sum overflow.
          val df = fn(spark, sfDir)
            .select(xxhash64(struct(col("*"))).as("h"))
          df.agg(expr("bit_xor(h)")).collect()
          samples(name) =
            samples(name) :+ ((pass, (System.nanoTime() - t0) / 1e9, mp))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
            errors(name) += 1
        }
        }
      }
    }
    // Normalization reference: the ~10th-percentile MICRO probe of the
    // run (r15 #1 — per sample, not per pass), with a 1.5× DEADBAND:
    // a sample is rescaled ONLY when its adjacent probe is clearly
    // elevated. Two deliberate choices, both measured on a quiet
    // sf0.01 run before landing: (a) the strict min of ~10³ noisy
    // ~80 ms probes is biased LOW (order statistics), which deflated
    // every normalized median below the value_min noise floor —
    // p10 is a stable quiet-machine estimate; (b) without the
    // deadband, probe jitter (GC, JIT) injects ±10–20% noise into
    // every sample — the failure mode this exists for is 3–6× bursts
    // (BENCH_r15 q102–q108/q273–q282), which clear 1.5× with margin,
    // while a quiet run passes through with raw == normalized.
    val microsAll = samples.values.flatten.map(_._3).filter(_ > 0)
      .toSeq.sorted
    val microRef =
      if (microsAll.isEmpty) 1.0 else microsAll((microsAll.size - 1) / 10)
    def normalize(micro: Double, secs: Double): Double =
      if (microRef > 0 && micro > microRef * 1.5)
        secs * microRef / micro
      else secs
    // builds lead the measured list: `b_*` sorts before `q*`, and the
    // per-family subtotals below bucket them under "SharedBuilds"
    val buildNames = sharedBuilds.map("b_" + _.name)
    val measuredNames = buildNames ++ queryList.map(_._1)
    // failed = zero successful passes; errored-but-recovered = flaky
    // (median over the successful samples stands)
    val failed = measuredNames.filter(n => samples(n).isEmpty).toSet
    val flaky = measuredNames
      .filter(n => errors(n) > 0 && samples(n).nonEmpty)
    val results = measuredNames.map { name =>
      name -> (if (failed.contains(name)) -1.0
        else median(samples(name).map(_._2)))
    }
    // calib-normalized medians: each sample divided by its own pass's
    // load factor first — the self-adjudicating number a drift audit
    // should read before the raw one
    val resultsNorm = measuredNames.map { name =>
      name -> (if (failed.contains(name)) -1.0
        else median(samples(name).map { case (_, v, m) => normalize(m, v) }))
    }
    // value_min (r15 #1b): sum of per-query MIN raw samples — the
    // standard noise-floor estimator for warm benchmarks. Bursts only
    // inflate, so the min is the closest observation to the quiet
    // truth; a comparison that reads value_min is immune to any
    // contention that spared at least one sample per query.
    val valueMin = math.rint(measuredNames.flatMap { n =>
      val vs = samples(n).map(_._2)
      if (vs.isEmpty) None else Some(vs.min)
    }.sum * 1000) / 1000
    // drift-suspect self-labeling (r12 verdict item #1): a query whose
    // samples spread >3× while the per-pass probes stayed uniform
    // (<1.5× spread) was hit by a QUERY-LOCAL load burst the pass-level
    // normalization cannot correct (the r12 q129 shape: 7.3/15.1/2.5 s
    // under healthy probes). The flag makes the adjudication mechanical
    // from the artifact alone: read the min sample, compare to history.
    val calibNonZero = calibPerPass.filter(_ > 0)
    val calibUniform = calibNonZero.nonEmpty &&
      calibNonZero.max / calibNonZero.min < 1.5
    val driftSuspect = measuredNames.filter { n =>
      val vs = samples(n).map(_._2)
      calibUniform && vs.length >= 2 && vs.min > 0 &&
        vs.max / vs.min > 3.0
    }
    // per-family subtotals (r12 verdict item #8): at 300+ queries the
    // headline total hides family-level regressions; one raw-median sum
    // per query pack keeps them visible as the suite grows.
    val familyOf = SparkEntry.families
    val families = results.groupBy { case (n, _) =>
      if (n.startsWith("b_")) "SharedBuilds"
      else familyOf.getOrElse(n, "Other")
    }.map { case (f, rs) =>
      f -> math.rint(rs.collect { case (_, v) if v >= 0 => v }
        .sum * 1000) / 1000
    }.toSeq.sortBy(_._1)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsNorm = resultsNorm.map { case (k, v) =>
      "\"" + k + "\":" + math.rint(v * 1000) / 1000
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalNorm = math.rint(resultsNorm.collect {
      case (_, v) if v >= 0 => v }.sum * 1000) / 1000
    val calibPerPassJson = calibPerPass.mkString("[", ",", "]")
    val failedJson = failed.toList.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flaky.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val driftJson = driftSuspect.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val buildsJson = buildNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-build [min,max] sample spread in the COMPACT line (r13
    // verdict item #2): the b_dist_brandes 27 s ↔ 125 s builder/driver
    // swing was invisible because raw samples live only in
    // bench_queries.json, which the driver's tail discards. The `b_*`
    // set is small (7 entries), so their spread fits the 2000-char tail
    // and a run-to-run instability is adjudicable from the artifact.
    val buildSpreadJson = buildNames.map { n =>
      val vs = samples(n).map(_._2)
      val lo = if (vs.isEmpty) -1.0 else math.rint(vs.min * 1000) / 1000
      val hi = if (vs.isEmpty) -1.0 else math.rint(vs.max * 1000) / 1000
      "\"" + n + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    val nFastSingle = queryList.map(_._1)
      .count(n => samples(n).length == 1 && nSamples > 1 &&
        !failed.contains(n) && errors(n) == 0)
    val nStablePair = queryList.map(_._1)
      .count(n => samples(n).length == 2 && nSamples > 2 &&
        !failed.contains(n) && errors(n) == 0)
    val familiesJson = families.map { case (f, v) =>
      "\"" + f + "\":" + v }.mkString("{", ",", "}")
    val samplesJson = results.map { case (k, _) =>
      "\"" + k + "\":" + samples(k).map { case (_, v, _) =>
        math.rint(v * 1000) / 1000 }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // adjacent micro-probe readings per sample (full artifact only):
    // the per-sample load context a drift audit divides by
    val microsJson = results.map { case (k, _) =>
      "\"" + k + "\":" + samples(k).map { case (_, _, m) =>
        math.rint(m * 10000) / 10000 }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // The driver keeps only a ~2000-char tail of the output: r4's
    // full-name map outgrew it, and at 203 queries (r7) even the
    // short-key map (~2.8 KB) did — the tail began mid-line and the
    // artifact parsed null. So the LAST stdout line must be compact:
    // a summary whose queries map carries only the 20 slowest (the
    // ones a plan audit reads first). The full short-key line prints
    // before it for humans, and the full-name full-precision map
    // (plus raw samples) goes to bench_queries.json.
    // `b_*` build entries keep their full name (the q-number short-key
    // rule would collapse them all to "b")
    def shortKey(k: String): String =
      if (k.startsWith("b_")) k else k.takeWhile(_ != '_')
    val qsShort = results.map { case (k, v) =>
      "\"" + shortKey(k) + "\":" + math.rint(v * 1000) / 1000
    }.mkString("{", ",", "}")
    // top-20 map reads the NORMALIZED medians (r14 verdict #3): the
    // slowest-query list a plan audit reads first must not be
    // reshuffled by a driver-machine load burst.
    val topEntries = resultsNorm.sortBy(-_._2).take(20)
    val qsTop = topEntries.map { case (k, v) =>
      "\"" + shortKey(k) + "\":" + math.rint(v * 1000) / 1000
    }.mkString("{", ",", "}")
    // companion RAW-MIN map for the same slowest-20 keys (r16 verdict
    // item #2, additions-only): the per-query noise-floor estimate a
    // cross-round comparison should read when a run was contended —
    // the r16 driver's q133 19.9s-raw/7.5s-normalized ambiguity is
    // adjudicable from the compact line alone with this beside it.
    val qsTopMin = topEntries.map { case (k, _) =>
      val vs = samples(k).map(_._2)
      val mn = if (vs.isEmpty) -1.0 else math.rint(vs.min * 1000) / 1000
      "\"" + shortKey(k) + "\":" + mn
    }.mkString("{", ",", "}")
    // "value_kind":"norm" (r15 advice #3): an explicit schema marker
    // for the r14 semantic change of "value" from raw to normalized —
    // parsers comparing artifacts across rounds can branch on it
    // instead of inferring from value == value_norm.
    val mref = math.rint(microRef * 10000) / 10000
    // cpus as a JSON number when numeric (the driver's shape), quoted
    // otherwise (local[*]-style experiments must not break the line)
    val cpusJson = cpusN.fold("\"" + cpus + "\"")(_.toString)
    val fullLine =
      s"""{"metric":"total","value":$totalNorm,"unit":"sec","value_kind":"norm","value_raw":$total,"value_norm":$totalNorm,"value_min":$valueMin,"cpus":$cpusJson,"calib_sec":$calibSec,"calib_per_pass":$calibPerPassJson,"micro_ref":$mref,"queries":$qs,"queries_norm":$qsNorm,"samples":$samplesJson,"micros":$microsJson,"n_samples":$nSamples,"fast_single_sample":$nFastSingle,"stable_two_sample":$nStablePair,"fast_cutoff":$fastCutoff,"failed":$failedJson,"flaky":$flakyJson,"drift_suspect":$driftJson,"shared_builds":$buildsJson,"build_spread":$buildSpreadJson,"families":$familiesJson,"sf":"$sfDir"}"""
    // only full runs refresh the committed artifact — an args-filtered
    // local iteration must not clobber the full-query record. A
    // LOW-CORE SCALING run (SPARK_GRAFT_CPUS below the machine's core
    // count — the driver's c8 pass) writes bench_queries_c<N>.json
    // instead (r16 verdict item #2): the r16 driver's c8 run OVERWROTE
    // the committed c32 artifact and the main run's full per-query
    // samples were lost to the repo. `cpus` in the line itself keeps
    // every artifact self-describing either way.
    val hostCores = Runtime.getRuntime.availableProcessors
    val artifactName = cpusN.filter(_ < hostCores)
      .fold("bench_queries.json")(n => s"bench_queries_c$n.json")
    if (only.isEmpty) java.nio.file.Files.write(
      java.nio.file.Paths.get(artifactName),
      (fullLine + "\n").getBytes("UTF-8"))
    // filtered local iteration: full detail to stdout instead (the
    // committed artifact stays untouched)
    else println(fullLine)
    println(s"""{"metric":"total_all_queries","value":$total,"unit":"sec","queries":$qsShort,"sf":"$sfDir"}""")
    // HEADLINE value = the NORMALIZED total (r14 verdict #3, per-sample
    // since r16): raw medians are distorted by driver-host contention;
    // the per-sample-normalized number is the one that survives a
    // noisy machine. value_raw keeps the raw total for continuity with
    // r1–r14 artifacts; value_min is the noise-floor companion (sum of
    // per-query min samples) a comparison should prefer when the run
    // was contended.
    println(s"""{"metric":"total","value":$totalNorm,"unit":"sec","value_kind":"norm","value_raw":$total,"value_norm":$totalNorm,"value_min":$valueMin,"n_queries":${results.size},"cpus":$cpusJson,"calib_sec":$calibSec,"calib_per_pass":$calibPerPassJson,"micro_ref":$mref,"queries":$qsTop,"queries_min":$qsTopMin,"queries_shown":"slowest20_norm","n_samples":$nSamples,"fast_single_sample":$nFastSingle,"stable_two_sample":$nStablePair,"failed":$failedJson,"flaky":$flakyJson,"drift_suspect":$driftJson,"shared_builds":$buildsJson,"build_spread":$buildSpreadJson,"sf":"$sfDir","queries_file":"$artifactName"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
