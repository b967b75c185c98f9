package graft.stream

import graft.functions.{Ema, EmaState, RsiState, WilderRsi}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online per-symbol indicator computation over a bar stream — the
  * recursive family (EMA 5/10/30, MACD line + signal, Wilder RSI, OBV)
  * computed as each bar arrives, with per-symbol state in the
  * checkpointed state store (`flatMapGroupsWithState`).
  *
  * The reference computes these only in nightly batch
  * (D_Create_crypto_ind_day_001.py); the streaming engine brings them
  * online by running the batch aggregates' own recurrences
  * ([[graft.functions.Ema.step]], [[graft.functions.WilderRsi.step]]
  * and the RSI formula [[graft.functions.WilderRsi.value]]) on the
  * aggregates' own state buffers, so the online values are
  * bit-identical to a batch recompute over the bars seen so far —
  * pinned in StreamingSpec across multiple micro-batches. The state
  * carried per symbol is exactly the
  * [[graft.mart.IndicatorDay.stateSnapshot]] recursion state (seven
  * small structs + OBV), so a stream can hand off to the batch
  * incremental refresh and vice versa.
  *
  * Scale shape: state is O(symbols) × ~200 bytes, the stream shuffles
  * once on the symbol key, and each micro-batch does O(new bars) work —
  * the streaming twin of the incremental mart refresh. Bars must
  * arrive in event-time order per symbol ACROSS batches (within a
  * batch they are sorted here); out-of-order history belongs to the
  * watermarked bar builder upstream ([[Windowed.streamingBars]]).
  */
object IndicatorStream {

  case class BarIn(id: Long, t: Long, close: Double, volume: Double)

  case class EmaS(count: Long, acc: Double)
  case class RsiS(count: Long, prev: Double, sumGain: Double,
    sumLoss: Double, avgGain: Double, avgLoss: Double)
  case class IndState(e5: EmaS, e10: EmaS, e30: EmaS, e12: EmaS,
    e26: EmaS, s9: EmaS, rsi: RsiS, obv: Double, n: Long,
    prevClose: Double)

  case class IndOut(id: Long, t: Long, ema5: Option[Double],
    ema10: Option[Double], ema30: Option[Double], macd: Option[Double],
    macd_single: Option[Double], rsi: Option[Double], obv: Double)

  private val zeroEma = EmaS(0L, 0.0)
  private val zeroState = IndState(zeroEma, zeroEma, zeroEma, zeroEma,
    zeroEma, zeroEma, RsiS(0L, 0.0, 0.0, 0.0, 0.0, 0.0), 0.0, 0L, 0.0)

  private def when(cond: Boolean)(v: => Double): Option[Double] =
    if (cond) Some(v) else None

  /** One symbol's recursion state while its bars are folded in: the
    * batch aggregates' buffers, stepped by their recurrences. Built
    * from the stored [[IndState]] once per group and micro-batch, and
    * stored back as one with [[state]].
    */
  private final class Core(st: IndState) {
    private def buf(e: EmaS) = new EmaState(e.count, e.acc)
    private val e5 = buf(st.e5)
    private val e10 = buf(st.e10)
    private val e30 = buf(st.e30)
    private val e12 = buf(st.e12)
    private val e26 = buf(st.e26)
    private val s9 = buf(st.s9)
    private val rsi = new RsiState(st.rsi.count, st.rsi.prev,
      st.rsi.sumGain, st.rsi.sumLoss, st.rsi.avgGain, st.rsi.avgLoss)
    private var obv = st.obv
    /** Bars folded in so far, this one included. */
    var n: Long = st.n
    private var prevClose = st.prevClose

    private def smooth(e: EmaState, v: Double, p: Int): Unit =
      Ema.step(e, v, p, Ema.Standard.alpha(p))
    private def value(e: EmaState, p: Int): Option[Double] =
      when(Ema.defined(e, p))(e.acc)

    def push(b: BarIn): IndOut = {
      val v = b.close
      smooth(e5, v, 5)
      smooth(e10, v, 10)
      smooth(e30, v, 30)
      smooth(e12, v, 12)
      smooth(e26, v, 26)
      val macd = for { f <- value(e12, 12); s <- value(e26, 26) } yield f - s
      macd.foreach(smooth(s9, _, 9))
      WilderRsi.step(rsi, v, 14)
      obv =
        if (n == 0L) 0.0
        else if (v > prevClose) obv + b.volume
        else if (v < prevClose) obv - b.volume
        else obv
      n += 1
      prevClose = v
      IndOut(b.id, b.t, value(e5, 5), value(e10, 10), value(e30, 30),
        macd, value(s9, 9),
        when(WilderRsi.defined(rsi, 14))(WilderRsi.value(rsi)), obv)
    }

    def state: IndState = {
      def snap(e: EmaState) = EmaS(e.count, e.acc)
      IndState(snap(e5), snap(e10), snap(e30), snap(e12), snap(e26),
        snap(s9), RsiS(rsi.count, rsi.prev, rsi.sumGain, rsi.sumLoss,
          rsi.avgGain, rsi.avgLoss), obv, n, prevClose)
    }
  }

  /** One indicator row per incoming bar, keyed state per symbol. */
  def onlineIndicators(bars: Dataset[BarIn]): Dataset[IndOut] = {
    import bars.sparkSession.implicits._
    bars.groupByKey(_.id)
      .flatMapGroupsWithState[IndState, IndOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[BarIn], state: GroupState[IndState]) =>
          val core = new Core(state.getOption.getOrElse(zeroState))
          val out = rows.toSeq.sortBy(_.t).map(core.push)
          state.update(core.state)
          out.iterator
      }
  }

  // ——— full online mart: the frame family joins the recursive one ———

  case class FullBarIn(id: Long, t: Long, high: Double, low: Double,
    close: Double, volume: Double)
  /** One scaled bar kept in the positional ring. */
  case class RingBar(h: Double, l: Double, c: Double)
  /** ringBars caps at 78 (senkou-B's 26-bar displacement over a 52-bar
    * midpoint frame + the current row — the same bound as the batch
    * incremental refresh's tail); rawRing/kRing keep the last defined
    * stochastic stages (≤ 3 each).
    */
  case class FullState(core: IndState, ring: Seq[RingBar],
    rawRing: Seq[Double], kRing: Seq[Double])

  case class FullOut(id: Long, t: Long,
    sma5: Option[Double], sma10: Option[Double], sma30: Option[Double],
    ema5: Option[Double], ema10: Option[Double], ema30: Option[Double],
    macd: Option[Double], macd_single: Option[Double], rsi: Option[Double],
    bollinger_bands_sma: Option[Double],
    bollinger_bands_lower_band: Option[Double],
    bollinger_bands_upper_band: Option[Double],
    obv: Double,
    ichimoku_kijun_sen: Option[Double], ichimoku_tenkan_sen: Option[Double],
    ichimoku_senkou_span_a: Option[Double],
    ichimoku_senkou_span_b: Option[Double],
    stoch_oscillator: Option[Double], stoch_signal: Option[Double],
    stoch_percent_j: Option[Double],
    aroon_up: Option[Double], aroon_down: Option[Double],
    aroon_oscillator: Option[Double])

  private val maxRing = 78

  /** Left-to-right mean over the last n ring closes — the exact
    * accumulation order of Spark's Average over a sliding frame (the
    * frame rebuilds its buffer per row, summing rows in frame order
    * from 0.0), so online == batch bit-for-bit.
    */
  private def frameAvg(xs: Seq[Double]): Double = {
    var s = 0.0
    xs.foreach(s += _)
    s / xs.length
  }

  /** Population stddev replicating CentralMomentAgg's Welford update
    * order (delta/deltaN/m2) — Spark's stddev_pop over a frame is this
    * exact recurrence over the frame rows, so the result matches
    * bit-for-bit, which a naive two-pass formula would not.
    */
  private def frameStdPop(xs: Seq[Double]): Double = {
    var n = 0.0
    var avg = 0.0
    var m2 = 0.0
    xs.foreach { v =>
      n += 1
      val delta = v - avg
      val deltaN = delta / n
      avg += deltaN
      m2 += delta * (delta - deltaN)
    }
    math.sqrt(m2 / n)
  }

  private def mid(bars: Seq[RingBar]): Double =
    (bars.map(_.h).max + bars.map(_.l).min) / 2

  /** One bar of the full mart: `core` steps in place; the returned
    * state carries the new rings (its `core` is stored from `core` once
    * the micro-batch's bars are in). */
  private def fullStep(core: Core, st: FullState,
      b: FullBarIn): (FullState, FullOut) = {
    val rec = core.push(BarIn(b.id, b.t, b.close, b.volume))
    val ring = (st.ring :+ RingBar(b.high, b.low, b.close)).takeRight(maxRing)
    val rn = core.n // absolute bar count AFTER this bar
    def last(n: Int): Seq[RingBar] = ring.takeRight(n)

    val closes = ring.map(_.c)
    val sma5 = when(rn >= 5)(frameAvg(closes.takeRight(5)))
    val sma10 = when(rn >= 10)(frameAvg(closes.takeRight(10)))
    val sma30 = when(rn >= 30)(frameAvg(closes.takeRight(30)))
    val bbSma = when(rn >= 20)(frameAvg(closes.takeRight(20)))
    val bbSd = when(rn >= 20)(frameStdPop(closes.takeRight(20)))

    // stochastic chain: raw needs 14 bars; k = mean of last 3 raws
    // (defined from rn 16); d = mean of last 3 ks (defined from rn 18)
    val raw = when(rn >= 14) {
      val w = last(14)
      val hh = w.map(_.h).max
      val ll = w.map(_.l).min
      if (hh != ll) (b.close - ll) / (hh - ll) * 100 else 0.0
    }
    val rawRing = (st.rawRing ++ raw.toSeq).takeRight(3)
    val k = when(rn >= 16)(frameAvg(rawRing))
    val kRing = (st.kRing ++ k.toSeq).takeRight(3)
    val d = when(rn >= 18)(frameAvg(kRing))
    val j = for { kk <- k; dd <- d } yield 3 * kk - 2 * dd

    val tenkan = when(rn >= 9)(mid(last(9)))
    val kijun = when(rn >= 26)(mid(last(26)))
    // senkou spans: lag-26 of the midpoints — recomputed positionally
    // from the ring (bars [len-26-n+1, len-26] are the lagged frame)
    def lagged(n: Int): Option[Seq[RingBar]] =
      if (rn - 26 >= n) Some(ring.dropRight(26).takeRight(n)) else None
    val senkouA = for {
      tk <- lagged(9).map(mid)
      kj <- lagged(26).map(mid)
    } yield (tk + kj) / 2
    val senkouB = lagged(52).map(mid)

    // aroon(25): periods since extremum in the 26-bar window, ties to
    // the EARLIEST bar (the batch struct-ordering tiebreak; indexOf
    // finds the first = earliest occurrence)
    val aroonWin = last(26)
    def aroon(xs: Seq[Double], extremum: Seq[Double] => Double) =
      when(rn >= 26) {
        val since = xs.length - 1 - xs.indexOf(extremum(xs))
        (25 - since) * 100.0 / 25
      }
    val aroonUp = aroon(aroonWin.map(_.h), _.max)
    val aroonDown = aroon(aroonWin.map(_.l), _.min)

    val next = FullState(st.core, ring, rawRing, kRing)
    (next, FullOut(b.id, b.t,
      sma5, sma10, sma30, rec.ema5, rec.ema10, rec.ema30,
      rec.macd, rec.macd_single, rec.rsi,
      bbSma,
      for { s <- bbSma; sd <- bbSd } yield s - 2 * sd,
      for { s <- bbSma; sd <- bbSd } yield s + 2 * sd,
      rec.obv,
      kijun, tenkan, senkouA, senkouB,
      d, k, j, aroonUp, aroonDown,
      for { u <- aroonUp; dn <- aroonDown } yield u - dn))
  }

  /** The FULL indicator surface per incoming bar (recursive + frame
    * families), bit-equal to the batch PRE-EDGE indicator frame
    * ([[graft.mart.IndicatorDay.indicators]]) for every column except
    * the future-looking chikou span (lead(26) — unknowable at bar
    * time; the batch trailing-window reload back-fills it, see
    * [[graft.mart.IndicatorDay.incrementalFrom]]). The PUBLISHED mart
    * additionally applies the reference output edge (exact 0 → NULL,
    * float cast — `IndicatorDay.applyEdge`); consumers wanting mart
    * parity apply that same projection to this stream's output.
    * State per symbol is the recursion snapshot ([[IndState]] nested
    * as `core`, stream→batch handoff included) plus a 78-bar
    * positional ring — the same bound the batch incremental tail
    * uses — so state stays O(symbols) × ~2 KB however long the stream
    * runs. Bars must carry the SCALED high/low/close (the mart's
    * n_multiple convention, applied upstream like the close-only
    * variant).
    */
  def onlineMart(bars: Dataset[FullBarIn]): Dataset[FullOut] = {
    import bars.sparkSession.implicits._
    bars.groupByKey(_.id)
      .flatMapGroupsWithState[FullState, FullOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[FullBarIn], state: GroupState[FullState]) =>
          var st = state.getOption.getOrElse(
            FullState(zeroState, Nil, Nil, Nil))
          val core = new Core(st.core)
          val out = rows.toSeq.sortBy(_.t).map { b =>
            val (next, o) = fullStep(core, st, b)
            st = next
            o
          }
          state.update(st.copy(core = core.state))
          out.iterator
      }
  }
}
