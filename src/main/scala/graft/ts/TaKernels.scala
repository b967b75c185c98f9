package graft.ts

/** Pure recursive indicator kernels (no Spark dependency).
  *
  * These are the reference's "UDAF surface" — the indicators whose
  * recurrences a window frame cannot express (SURVEY.md §2.6 I2–I4):
  * the reference escapes to pandas + the C# `stock_indicators` library
  * per symbol (/root/reference/modules/common/calculate_market_indicators.py:29-54,
  * airflow/etl_scripts/pyspark/D_Create_crypto_ind_day_001.py:59-113).
  * Here they are plain array-in/array-out functions over one symbol's
  * date-sorted closes, applied distributedly via
  * [[graft.ts.Recursive]].
  *
  * Convention: `Double.NaN` marks warm-up rows (promoted to SQL NULL at
  * the DataFrame edge). All arithmetic is Double; the recurrences are
  * written in the same operation order as the DuckDB oracle recursive
  * CTEs (graft.queries.Indicators), and the residual double drift is
  * absorbed by the FLOAT cast at the output edge.
  */
object TaKernels {

  /** EMA(n), seeded with the simple average of the first n closes at
    * index n-1: ema_i = α·close_i + (1-α)·ema_{i-1}, α = 2/(n+1).
    */
  def ema(closes: Array[Double], n: Int): Array[Double] = {
    val out = Array.fill(closes.length)(Double.NaN)
    if (closes.length >= n) {
      var seed = 0.0
      var i = 0
      while (i < n) { seed += closes(i); i += 1 }
      out(n - 1) = seed / n
      val alpha = 2.0 / (n + 1)
      i = n
      while (i < closes.length) {
        out(i) = alpha * closes(i) + (1 - alpha) * out(i - 1)
        i += 1
      }
    }
    out
  }

  /** EMA over a series whose leading entries may be NaN (used for the
    * MACD signal line): the seed is the simple average of the first n
    * defined values, the recurrence runs from there.
    */
  private def emaOverDefined(xs: Array[Double], n: Int): Array[Double] = {
    val out = Array.fill(xs.length)(Double.NaN)
    val first = xs.indexWhere(!_.isNaN)
    if (first >= 0 && xs.length - first >= n) {
      var seed = 0.0
      var i = first
      while (i < first + n) { seed += xs(i); i += 1 }
      out(first + n - 1) = seed / n
      val alpha = 2.0 / (n + 1)
      i = first + n
      while (i < xs.length) {
        out(i) = alpha * xs(i) + (1 - alpha) * out(i - 1)
        i += 1
      }
    }
    out
  }

  /** MACD(fast, slow, signal): macd = EMA(fast) − EMA(slow) once both
    * are defined; signal = EMA(signal) of the macd series; hist = macd −
    * signal. Returns (macd, signal, hist).
    */
  def macd(closes: Array[Double], fast: Int = 12, slow: Int = 26,
      sig: Int = 9): (Array[Double], Array[Double], Array[Double]) = {
    val ef = ema(closes, fast)
    val es = ema(closes, slow)
    val m = Array.tabulate(closes.length) { i =>
      if (ef(i).isNaN || es(i).isNaN) Double.NaN else ef(i) - es(i)
    }
    val s = emaOverDefined(m, sig)
    val h = Array.tabulate(closes.length) { i =>
      if (m(i).isNaN || s(i).isNaN) Double.NaN else m(i) - s(i)
    }
    (m, s, h)
  }

  /** RSI(n) with Wilder smoothing: seed = simple average of the first n
    * gains/losses; then avg = (prev·(n−1) + cur)/n. avgLoss == 0 →
    * RSI = 100 exactly.
    */
  def rsi(closes: Array[Double], n: Int = 14): Array[Double] = {
    val out = Array.fill(closes.length)(Double.NaN)
    if (closes.length > n) {
      var sg = 0.0
      var sl = 0.0
      var i = 1
      while (i <= n) {
        val d = closes(i) - closes(i - 1)
        if (d > 0) sg += d else sl -= d
        i += 1
      }
      var ag = sg / n
      var al = sl / n
      out(n) = if (al == 0.0) 100.0 else 100.0 - 100.0 / (1 + ag / al)
      i = n + 1
      while (i < closes.length) {
        val d = closes(i) - closes(i - 1)
        val g = if (d > 0) d else 0.0
        val l = if (d < 0) -d else 0.0
        ag = (ag * (n - 1) + g) / n
        al = (al * (n - 1) + l) / n
        out(i) = if (al == 0.0) 100.0 else 100.0 - 100.0 / (1 + ag / al)
        i += 1
      }
    }
    out
  }

  /** Holt's linear (double exponential) smoothing — the one-step
    * forecasting primitive on top of the EMA family: level tracks the
    * series, trend tracks its drift, forecast(t) = level + trend is
    * the t+1 prediction. Textbook init: level₁ = x₁, trend₁ = x₂ − x₁
    * (all-NaN on a 1-point series). Expression shapes are written to
    * match the oracle's recursive CTE op-for-op, so the doubles are
    * bit-identical cross-engine before any rounding.
    * @return Array(level, trend, forecast)
    */
  def holt(closes: Array[Double], alpha: Double = 0.2,
      beta: Double = 0.1): Array[Array[Double]] = {
    val n = closes.length
    val l = Array.fill(n)(Double.NaN)
    val b = Array.fill(n)(Double.NaN)
    val f = Array.fill(n)(Double.NaN)
    if (n >= 2) {
      l(0) = closes(0)
      b(0) = closes(1) - closes(0)
      f(0) = l(0) + b(0)
      var i = 1
      while (i < n) {
        l(i) = alpha * closes(i) + (1 - alpha) * (l(i - 1) + b(i - 1))
        b(i) = beta * (l(i) - l(i - 1)) + (1 - beta) * b(i - 1)
        f(i) = l(i) + b(i)
        i += 1
      }
    }
    Array(l, b, f)
  }

  /** Local-level Kalman filter (Harvey 1989 §2) with fixed process/
    * observation variances — the optimal-recursive smoother the EMA
    * family approximates with a CONSTANT gain: here the gain adapts,
    * starting high (trust the data while uncertain) and settling to
    * the steady state K* the variance ratio q/r implies.
    * {{{
    *   x̂₁ = y₁, P₁ = r
    *   P⁻ = P + q;  K = P⁻/(P⁻ + r)
    *   e  = y − x̂;  x̂ ← x̂ + K·e;  P ← (1−K)·P⁻
    * }}}
    * Expression shapes mirror the oracle's recursive CTE op-for-op
    * (K's expression is repeated where the kernel names it — same
    * value, deterministic), so the doubles are bit-identical before
    * the rounded float edge. Bar 1 emits level only (no prior →
    * gain/innovation NaN).
    * @return Array(level, gain, innovation)
    */
  def kalman(closes: Array[Double], q: Double = 1.0,
      r: Double = 4.0): Array[Array[Double]] = {
    val n = closes.length
    val lvl = Array.fill(n)(Double.NaN)
    val gain = Array.fill(n)(Double.NaN)
    val innov = Array.fill(n)(Double.NaN)
    if (n >= 1) {
      var x = closes(0)
      var p = r
      lvl(0) = x
      var t = 1
      while (t < n) {
        val pp = p + q
        val k = pp / (pp + r)
        val e = closes(t) - x
        x = x + k * e
        p = (1 - k) * pp
        lvl(t) = x; gain(t) = k; innov(t) = e
        t += 1
      }
    }
    Array(lvl, gain, innov)
  }

  /** Kaufman adaptive moving average (Kaufman 1995): an EMA whose
    * gain ADAPTS to the efficiency ratio — trending markets get the
    * fast constant, choppy ones the slow — the data-driven answer to
    * "which EMA period": ER = |y_t − y_{t−n}| / Σ|Δy| over the last n
    * bars (0 on flat windows), sc = (ER·(fast−slow)+slow)², KAMA
    * seeded at the n-th bar's price. Constants are computed ONCE here
    * and string-interpolated into the oracle so both engines inline
    * the identical doubles.
    * @return Array(kama, er)
    */
  def kama(closes: Array[Double], n: Int = 10, fast: Int = 2,
      slow: Int = 30): Array[Array[Double]] = {
    val len = closes.length
    val fa = 2.0 / (fast + 1); val sl = 2.0 / (slow + 1)
    val df = fa - sl
    val k = Array.fill(len)(Double.NaN)
    val er = Array.fill(len)(Double.NaN)
    if (len >= n) {
      k(n - 1) = closes(n - 1)
      var t = n
      while (t < len) {
        var den = 0.0
        var i = t - n + 1
        while (i <= t) { den += math.abs(closes(i) - closes(i - 1)); i += 1 }
        val e = if (den != 0.0) math.abs(closes(t) - closes(t - n)) / den
          else 0.0
        val s1 = e * df + sl
        val sc = s1 * s1
        k(t) = k(t - 1) + sc * (closes(t) - k(t - 1))
        er(t) = e
        t += 1
      }
    }
    Array(k, er)
  }

  /** The [[kama]] constants exposed for the oracle's literal
    * interpolation (identical doubles both engines). */
  val kamaFastSlowDiff: Double = 2.0 / 3 - 2.0 / 31
  val kamaSlow: Double = 2.0 / 31

  /** Holt–Winters additive triple exponential smoothing — [[holt]]
    * plus a period-m seasonal state, the classic forecaster for a
    * series with weekly rhythm (m = 7 on daily bars). Textbook
    * two-season init (needs n ≥ 2m, else all-NaN): level = mean of
    * season 1, trend = (mean of season 2 − mean of season 1)/m,
    * initial seasonals = first-season deviations from that level.
    * Then for t ≥ m (0-based):
    * {{{
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ) s_{t−m}
    *   f_t = l_t + b_t + s_{t+1−m}     // one-step-ahead forecast
    * }}}
    * Expression shapes mirror the oracle's recursive CTE (which
    * carries the trailing m seasonals as a LIST) op-for-op, so the
    * doubles are bit-identical before the rounded float edge.
    * @return Array(level, trend, seasonal, forecast)
    */
  def holtWinters(closes: Array[Double], m: Int = 7, alpha: Double = 0.2,
      beta: Double = 0.1, gamma: Double = 0.3): Array[Array[Double]] = {
    val n = closes.length
    val l = Array.fill(n)(Double.NaN)
    val b = Array.fill(n)(Double.NaN)
    val s = Array.fill(n)(Double.NaN)
    val f = Array.fill(n)(Double.NaN)
    if (n >= 2 * m) {
      var sum1 = 0.0
      var i = 0
      while (i < m) { sum1 += closes(i); i += 1 }
      val m1 = sum1 / m
      var sum2 = 0.0
      i = m
      while (i < 2 * m) { sum2 += closes(i); i += 1 }
      val m2 = sum2 / m
      i = 0
      while (i < m) { s(i) = closes(i) - m1; i += 1 }
      l(m - 1) = m1
      b(m - 1) = (m2 - m1) / m
      f(m - 1) = l(m - 1) + b(m - 1) + s(0)
      var t = m
      while (t < n) {
        l(t) = alpha * (closes(t) - s(t - m)) +
          (1 - alpha) * (l(t - 1) + b(t - 1))
        b(t) = beta * (l(t) - l(t - 1)) + (1 - beta) * b(t - 1)
        s(t) = gamma * (closes(t) - l(t)) + (1 - gamma) * s(t - m)
        f(t) = l(t) + b(t) + s(t + 1 - m)
        t += 1
      }
    }
    Array(l, b, s, f)
  }
}
