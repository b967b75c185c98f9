package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run. Layer names are the program's
  * module names; a span's layer is its name up to the first dot. Every
  * workload reports every metric, with zero where it bypasses a layer.
  * Sums cover the traced work only: steps run with tracing suspended
  * (to time the tracing overhead) leave no spans.
  */
object Layers {
  val families: Seq[String] = QuerySlice.entries.map(_._2).distinct

  val names: Seq[String] = Seq(
    "ingest.s", "ingest.rows_in", "ingest.rows_out", "ingest.cpu_s",
    "ingest.jobs",
    "load.s", "load.partitions_written", "load.files_written",
    "load.bytes_written", "load.bytes_read", "load.shuffle_bytes",
    "load.cpu_s",
    "mart.indicator_s", "mart.closestats_s", "mart.rows_out",
    "mart.shuffle_bytes", "mart.spill_bytes", "mart.cpu_s",
    "stream.batches", "stream.rows_per_batch", "stream.trigger_ms_p50",
    "stream.add_batch_ms_p50", "stream.query_planning_ms_p50",
    "stream.get_batch_ms_p50", "stream.wal_commit_ms_p50",
    "stream.sink_files") ++
    families.flatMap(f => Seq("s", "jobs", "planning_gap_s", "task_s",
      "shuffle_bytes").map(m => s"$f.$m")) ++
    QuerySlice.builds.map(b => s"builds.$b.s") ++ Seq(
      "builds.spread_ratio_max", "builds.storage_held_mb_after_clear",
      "builds.rdds_held_after_clear", "builds.jobs", "builds.gc_s",
      "slice.overhead_bound_entries", "slice.data_bound_entries",
      "spark.gc_s", "spark.planning_gap_share", "spark.task_share",
      "trace.overhead_frac")

  private def layerOf(name: String): String = name.takeWhile(_ != '.')

  /** Spans that bill work directly; container spans (backfill,
    * refresh, pass) only group them. */
  private def leaves(tr: Tracer): Seq[Span] = {
    val parents = tr.all.map(_.parent).toSet
    tr.all.filterNot(s => parents.contains(s.id))
  }

  /** Traced over untraced median step time, minus one. */
  def overheadFrac(steps: Seq[(Boolean, Double)]): Option[Double] = {
    val (on, off) = steps.partition(_._1)
    if (on.isEmpty || off.isEmpty) None
    else Some(Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1)
  }

  /** Storage memory and disk held by persisted or checkpointed RDDs,
    * read as is (no GC is forced): (MB, RDD count). */
  def storageHeld(spark: SparkSession): (Double, Int) = {
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (held.map(r => r.memSize + r.diskSize).sum / 1e6, held.length)
  }

  private val progressKeys = Seq("triggerExecution" -> "trigger",
    "addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
    "getBatch" -> "get_batch", "walCommit" -> "wal_commit")

  /** stream.* from the landing stream's progress reports. */
  def streamLayer(progress: Warehouse.Progress, sinkFiles: Int): Map[String, Double] = {
    val ps = progress.events.asScala.toSeq.map(_.progress)
      .filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.rows_per_batch" -> (if (ps.isEmpty) 0.0
        else ps.map(_.numInputRows).sum.toDouble / ps.size),
      "stream.sink_files" -> sinkFiles.toDouble,
      "_stream_rows_in" -> ps.map(_.numInputRows).sum.toDouble,
      "_trigger_ms_total" -> ps.map(dur(_, "triggerExecution")).sum) ++
      progressKeys.map { case (k, n) =>
        s"stream.${n}_ms_p50" -> Stats.median(ps.map(dur(_, k))) }
  }

  def all(ctx: Ctx, out: Outcome, gcS: Double, wallS: Double): Map[String, Double] = {
    val tr = ctx.tracer
    val ls = leaves(tr)
    def in(layer: String) = ls.filter(s => layerOf(s.name) == layer)
    def sum(ss: Seq[Span])(f: Span => Double) = ss.map(f).sum
    def c(ss: Seq[Span]) = { val t = new Counters; ss.foreach(s => t.add(s.counters)); t }
    val m = collection.mutable.Map.empty[String, Double]
    names.foreach(m(_) = 0.0)

    val ingest = c(in("ingest"))
    tr.groupCounters.filter(_._1 == "ingest").foreach(g => ingest.add(g._2))
    m("ingest.s") = sum(in("ingest"))(_.wallMs / 1e3)
    m("ingest.rows_in") = ingest.recordsRead + out.extra.getOrElse("_stream_rows_in", 0.0)
    m("ingest.rows_out") = ingest.recordsWritten.toDouble
    m("ingest.cpu_s") = ingest.cpuS
    m("ingest.jobs") = ingest.jobs.toDouble

    val load = in("load")
    val lc = c(load)
    m("load.s") = sum(load)(_.wallMs / 1e3)
    for (k <- Seq("partitions_written", "files_written", "bytes_written"))
      m(s"load.$k") = sum(load)(_.notes(k))
    m("load.bytes_read") = lc.bytesRead.toDouble
    m("load.shuffle_bytes") = lc.shuffleBytes.toDouble
    m("load.cpu_s") = lc.cpuS

    val mart = in("mart")
    val mc = c(mart)
    m("mart.indicator_s") = sum(mart.filter(_.name == "mart.indicator"))(_.wallMs / 1e3)
    m("mart.closestats_s") = sum(mart.filter(_.name == "mart.closestats"))(_.wallMs / 1e3)
    m("mart.rows_out") = mc.recordsWritten.toDouble
    m("mart.shuffle_bytes") = mc.shuffleBytes.toDouble
    m("mart.spill_bytes") = mc.spillBytes.toDouble
    m("mart.cpu_s") = mc.cpuS

    for (f <- families) {
      val ss = in(f)
      m(s"$f.s") = sum(ss)(_.wallMs / 1e3)
      m(s"$f.jobs") = c(ss).jobs.toDouble
      m(s"$f.planning_gap_s") = sum(ss)(_.planningGapMs / 1e3)
      m(s"$f.task_s") = c(ss).taskS
      m(s"$f.shuffle_bytes") = c(ss).shuffleBytes.toDouble
    }
    val builds = in("builds")
    for (b <- QuerySlice.builds)
      m(s"builds.$b.s") = Stats.median(builds.filter(_.name == s"builds.$b").map(_.wallMs / 1e3))
    m("builds.jobs") = c(builds).jobs.toDouble
    m("builds.gc_s") = c(builds).gcMs / 1e3
    val classes = entries(ctx)
    m("slice.overhead_bound_entries") = classes.count(_._2.bound == "overhead").toDouble
    m("slice.data_bound_entries") = classes.count(_._2.bound == "data").toDouble

    // planning gap and executor share over every leaf span and every
    // streaming trigger
    val streamCover = tr.groupCounters.map(_._2.jobCoverMs).sum.toDouble
    val triggerMs = out.extra.getOrElse("_trigger_ms_total", 0.0)
    val busyMs = sum(ls)(_.wallMs.toDouble) + triggerMs
    val gapMs = sum(ls)(_.planningGapMs.toDouble) + math.max(0.0, triggerMs - streamCover)
    val taskS = c(ls).taskS + tr.groupCounters.map(_._2.taskS).sum
    m("spark.gc_s") = gcS
    m("spark.planning_gap_share") = if (busyMs > 0) gapMs / busyMs else 0.0
    m("spark.task_share") = if (busyMs > 0) taskS * 1e3 / (busyMs * ctx.cores) else 0.0
    m("trace.overhead_frac") = out.overheadFrac.getOrElse(tr.selfS / wallS)
    out.extra.foreach { case (k, v) => if (!k.startsWith("_")) m(k) = v }
    m.toMap
  }

  final case class EntryStats(layer: String, s: Double, jobs: Long,
      gapS: Double, taskS: Double, bound: String)

  /** Each slice entry's traced executions, classified: overhead-bound
    * when the planning gap exceeds the executor time spread
    * over the cores, data-bound otherwise. */
  def entries(ctx: Ctx): Map[String, EntryStats] =
    leaves(ctx.tracer).filter(s => families.contains(layerOf(s.name)))
      .groupBy(_.name).map { case (name, ss) =>
        val t = new Counters
        ss.foreach(s => t.add(s.counters))
        val gap = ss.map(_.planningGapMs).sum / 1e3
        name.dropWhile(_ != '.').drop(1) -> EntryStats(layerOf(name),
          ss.map(_.wallMs).sum / 1e3, t.jobs, gap, t.taskS,
          if (gap > t.taskS / ctx.cores) "overhead" else "data")
      }

  /** The traced run's artifact: every span, the slice classification
    * and the per-layer metrics. */
  def artifact(ctx: Ctx, out: Outcome): String = {
    val spans = ctx.tracer.all.map { s =>
      val k = s.counters
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run_id" -> Json.str(s.runId),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "jobs" -> k.jobs.toString, "stages" -> k.stages.toString,
        "tasks" -> k.tasks.toString, "task_s" -> Json.num(k.taskS),
        "cpu_s" -> Json.num(k.cpuS), "gc_s" -> Json.num(k.gcMs / 1e3),
        "shuffle_bytes" -> k.shuffleBytes.toString,
        "spill_bytes" -> k.spillBytes.toString,
        "planning_gap_s" -> Json.num(s.planningGapMs / 1e3),
        "notes" -> Json.nums(s.notes.toMap)))
    }
    val classes = entries(ctx).toSeq.sortBy(_._1).map { case (n, e) =>
      n -> Json.obj(Seq("layer" -> Json.str(e.layer), "s" -> Json.num(e.s),
        "jobs" -> e.jobs.toString, "planning_gap_s" -> Json.num(e.gapS),
        "task_s" -> Json.num(e.taskS), "bound" -> Json.str(e.bound)))
    }
    Json.obj(Seq("run_id" -> Json.str(ctx.tracer.runId),
      "cores" -> ctx.cores.toString,
      "slice_entries" -> Json.obj(classes),
      "spans" -> Json.arr(spans)))
  }
}
