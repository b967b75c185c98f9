package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming windowed QUANTILES — the latency/size-profile operator:
  * per event-time window, (p50, p90, p99) from the engine's
  * deterministic bottom-k-by-hash sample
  * ([[graft.functions.BottomKByHash]] — the q103 kernel), with state
  * bounded at O(k = 200 rows) per open window REGARDLESS of
  * cardinality (exact windowed percentile retains every row — the
  * state shape that cannot run for months). Completes the
  * bounded-state streaming QUARTET beside [[HeavyHitters]]
  * (frequency), [[DistinctCounter]] (cardinality), and
  * [[DriftMonitor]] (distribution).
  *
  * The sketch is a uniform sample made DETERMINISTIC by ranking rows
  * on md5(row key): the k smallest hashes win. Bottom-k under a total
  * order is a commutative, associative fold (union then truncate —
  * the KMV law), so — like the HLL register max and unlike
  * SpaceSaving — any fold order, any partitioning, any micro-batch
  * boundaries produce the identical sample, and the full hash gate
  * applies to the batch-parity form with no precondition.
  *
  * Two forms, one output contract
  * (window_start, n_rows, n_sample, p50, p90, p99):
  *  - [[exactBatch]] — the kernel fold per window via
  *    `flatMapGroups`, the oracle-gated member; equals the q103
  *    BottomKByHash aggregate keyed by window by the merge law.
  *  - [[windowed]] — the streaming form: one (sample, count) per open
  *    window in the state store (`flatMapGroupsWithState` keyed by
  *    window start), emitted ONCE when the event-time timeout fires
  *    (the [[DistinctCounter.windowed]] one-shot pattern; late rows
  *    inside the watermark still fold in).
  *
  * The quantile selection runs DOWNSTREAM of the state fold by a
  * shared projection ([[withQuantiles]]): the kernel emits the
  * value-sorted sample verbatim (stored doubles pass through
  * untouched — selection, never arithmetic), exactly q103's
  * `element_at(sorted, floor(p · (n−1)) + 1)` rule.
  */
object QuantileSketch {

  /** Kernel output: one window's exact count + value-sorted sample. */
  final case class WindowSample(window_start: Long, n_rows: Long,
      vs: Seq[Double])

  /** Bottom-k-by-hash fold: union, rank by hash, truncate to k —
    * commutative and associative (the KMV merge law), so fold order
    * can never move the sample. State rides hash-sorted. */
  def fold(st: List[(String, Double)], rows: Iterator[(String, Double)],
      k: Int): List[(String, Double)] =
    (st ++ rows).sortBy(_._1).take(k)

  /** Emission: exact count + the sample's values sorted for the
    * selection rule. */
  def emitSample(ws: Long, st: List[(String, Double)],
      n: Long): WindowSample =
    WindowSample(ws, n, st.map(_._2).sorted)

  private def wsOf(ts: Column, windowLenS: Long): Column = {
    val tsL = ts.cast("long")
    tsL - pmod(tsL, lit(windowLenS))
  }

  private def windowedObs(events: DataFrame, value: Column, key: Column,
      windowLenS: Long): DataFrame =
    events.where(value.isNotNull && key.isNotNull && col("ts").isNotNull)
      .select(wsOf(col("ts"), windowLenS).as("ws"),
        md5(key.cast("string")).as("h"), value.cast("double").as("v"))

  /** The q103 selection rule over the kernel's (n_rows, sorted
    * sample): element floor(p·(n−1)) + 1, 1-based — selection of a
    * stored double, no arithmetic on values. */
  def withQuantiles(samples: DataFrame): DataFrame = {
    def q(p: Double, name: String) = element_at(col("vs"),
      (floor(lit(p) * (size(col("vs")) - 1)) + 1).cast("int")).as(name)
    samples.where(size(col("vs")) > 0)
      .select(col("window_start"), col("n_rows"),
        size(col("vs")).as("n_sample"),
        q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"))
  }

  /** Batch form: the kernel fold per window — the oracle-gated
    * member. Each window folds in one task (the streaming state
    * shape); the SCALE batch path is the BottomKByHash typed
    * aggregate's map-side partials, which this equals by the merge
    * law.
    */
  def exactBatch(events: DataFrame, value: Column, key: Column,
      k: Int = 200, windowLenS: Long = 86400L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val samples = windowedObs(events, value, key, windowLenS)
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (ws: Long, rows: Iterator[(Long, String, Double)]) =>
        var n = 0L
        val st = fold(Nil, rows.map { r => n += 1; r._2 -> r._3 }, k)
        Iterator(emitSample(ws, st, n))
      }
    withQuantiles(samples.toDF())
  }

  /** Streaming form: one (sample, count) per open window, one-shot
    * emission when the watermark passes window end + lateness.
    *
    * @param events streaming frame with (ts: timestamp, value, key)
    */
  def windowed(events: DataFrame, value: Column, key: Column,
      k: Int = 200, windowLenS: Long = 86400L,
      lateness: String = "30 minutes"): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val samples = events
      .where(value.isNotNull && key.isNotNull && col("ts").isNotNull)
      .withWatermark("ts", lateness)
      .select(col("ts"), wsOf(col("ts"), windowLenS).as("ws"),
        md5(key.cast("string")).as("h"), value.cast("double").as("v"))
      .as[(java.sql.Timestamp, Long, String, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(List[(String, Double)], Long), WindowSample](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (ws: Long,
            rows: Iterator[(java.sql.Timestamp, Long, String, Double)],
            state: GroupState[(List[(String, Double)], Long)]) =>
          if (state.hasTimedOut) {
            val (st, n) = state.get
            state.remove()
            Iterator(emitSample(ws, st, n))
          } else {
            val (st0, n0) = state.getOption.getOrElse((Nil, 0L))
            var n = n0
            val st = fold(st0, rows.map { r => n += 1; r._3 -> r._4 }, k)
            state.update((st, n))
            state.setTimeoutTimestamp((ws + windowLenS) * 1000L)
            Iterator.empty
          }
      }
    withQuantiles(samples.toDF())
  }
}
