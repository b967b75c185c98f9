package perfbench

import scala.util.Random
import graft.{SharedBuilds, SparkEntry, Tables}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** `query_slice`: a fixed slice of the oracle-checked registry at the
  * fixture's bench scale, closed loop, one client. A cycle times the
  * shared-build block (every build cleared, then rebuilt in name
  * order) and then one pass over the entries in a seed-permuted order,
  * each forced with the registry's full-column hash sink
  * (`bit_xor(xxhash64(struct(*)))`). The slice bypasses ingest,
  * load writes and the marts.
  *
  * Correctness: every timed pass must reproduce each entry's output
  * hash as verified against its DuckDB oracle. The launcher keeps the
  * verified hashes per build of the program; an entry without one has
  * its output written out after the timed cycles and verified then.
  */
object QuerySlice {
  /** Entry → layer. Round-loop and materialization entries first, then
    * the data-bound contrast. */
  val entries: Seq[(String, String)] = Seq(
    "q295_louvain" -> "graph",
    "q01_pricing_agg" -> "scan",
    "q04_multiway_join" -> "scan",
    "q30_close_stats" -> "scan")
  val builds: Seq[String] = Seq("copurchase_edges")
  /** The fixture scale the bench of record runs at. */
  val scale = "sf0.1"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val sfDir = s"${ctx.fixtures}/$scale"
    val queries = SparkEntry.queries
    val shared = SharedBuilds.all.filter(b => builds.contains(b.name))
    def hashOf(name: String): Long = {
      val t0 = System.nanoTime()
      val h = queries(name)(spark, sfDir)
        .select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
      Log(f"$name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      h
    }

    val rng = new Random(ctx.seed)
    val setup = ctx.setupReps { _ =>
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet")
        .select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    }

    val buildTimes = Seq.newBuilder[Double]
    val perBuild = collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val passTimes = Seq.newBuilder[Double]
    val hashes = collection.mutable.Map.empty[String, Set[Long]]
      .withDefaultValue(Set.empty)
    val traced = Seq.newBuilder[(Boolean, Double)]
    var cycles = 0
    def cycle(): Unit = {
      shared.foreach(_.clear(spark))
      buildTimes += ctx.time(shared.foreach { b =>
        val s = ctx.time(tr.span(s"builds.${b.name}")(b.force(spark, sfDir)))
        perBuild(b.name) ::= s
      })
      val order = rng.shuffle(entries)
      passTimes += ctx.time(tr.span("pass") {
        for ((n, layer) <- order) tr.span(s"$layer.$n") { hashes(n) += hashOf(n) }
      })
    }
    val deadline = ctx.deadline()
    while (cycles == 0 || System.nanoTime() < deadline) {
      // in a traced run every other cycle runs with tracing suspended,
      // which gives the tracing overhead on equal work
      val on = cycles % 2 == 0
      val t0 = System.nanoTime()
      tr.suspendedUnless(on) { cycle() }
      traced += ((on, (System.nanoTime() - t0) / 1e9))
      cycles += 1
    }
    // storage the builds still hold once cleared, read without a GC
    shared.foreach(_.clear(spark))
    val (heldMb, heldRdds) = Layers.storageHeld(spark)

    // correctness, untimed: every pass must reproduce the output hash
    // the DuckDB oracle verified for this build; an entry not verified
    // yet has its output written out for the launcher to verify
    val reference = entries.map { case (n, _) =>
      n -> ctx.verified.getOrElse(n, {
        queries(n)(spark, sfDir).write.parquet(s"${ctx.work}/check/$n")
        hashOf(n)
      })
    }.toMap
    val bad = entries.map(_._1).filter(n => hashes(n) != Set(reference(n)))
    val checks = Seq(Check("every pass reproduces the verified hash",
      bad.isEmpty, bad.mkString(",")))
    val oracles = entries.map(_._1).map { n =>
      Oracle(n, SparkEntry.oracleSql(n),
        if (ctx.verified.contains(n)) "" else s"${ctx.work}/check/$n",
        Tables.names.map(t =>
          t -> s"SELECT * FROM read_parquet('$sfDir/$t.parquet')").toMap,
        hash = reference(n))
    }
    val bt = buildTimes.result()
    val pt = passTimes.result()
    val e2e = Map(
      "bulk_s" -> Stats.median(bt),
      "step_s" -> Stats.median(pt))
    val named = Map("builds_s" -> Stats.median(bt), "slice_s" -> Stats.median(pt),
      "setup_s" -> setup, "cycles" -> cycles.toDouble)
    val spread = perBuild.values.map(v => v.max / v.min).foldLeft(1.0)(math.max)
    val extra = Map(
      "builds.spread_ratio_max" -> spread,
      "builds.storage_held_mb_after_clear" -> heldMb,
      "builds.rdds_held_after_clear" -> heldRdds.toDouble)
    Outcome(setup, e2e, named, checks, oracles, entries.size.toLong * cycles,
      Layers.overheadFrac(traced.result()), extra)
  }
}
