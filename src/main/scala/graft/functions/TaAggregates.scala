package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Native Catalyst aggregate functions for the recursive indicators —
  * the (b)-tier of the custom-operator ladder: a `TypedImperativeAggregate`
  * evaluated incrementally by the window engine, replacing the
  * `groupByKey.flatMapGroups` hop for EMA/MACD/RSI entirely.
  *
  * Used over a running frame —
  * `PARTITION BY id ORDER BY t ROWS UNBOUNDED PRECEDING` — Spark's
  * `UnboundedPrecedingWindowFunctionFrame` feeds each row to `update`
  * exactly once in order and reads `eval` after each row: O(rows) per
  * partition, no per-row frame rescan, state is a 32-byte buffer. That
  * makes ALL indicators (frame-expressible and recursive alike) run in
  * ONE window pass over one shuffle+sort — strictly better than the
  * flatMapGroups + join plan, which is kept (and separately verified)
  * as the [[graft.ts.Recursive]] reference implementation.
  *
  * Semantics are identical to [[graft.ts.TaKernels]] (same operation
  * order, so results are bit-identical): SMA-seeded EMA with NULL
  * until the seed fills, NULL inputs skipped (which makes
  * `ema(macd, 9)` the reference's EMA-over-defined signal line), and
  * Wilder-smoothed RSI.
  *
  * These are order-sensitive running aggregates: they are window-only
  * and reject `merge` (no partial aggregation path), like other
  * order-dependent aggregates.
  */
abstract class RunningAggBase[S]
  extends TypedImperativeAggregate[S] with BinaryLike[Expression]
    with Serializable {
  // Callers wrap the child in Cast(_, DoubleType) (see TaFunctions):
  // the classic ImplicitCastInputTypes mixin needs the private[sql]
  // AbstractDataType, so coercion is explicit instead. Serializable is
  // explicit (not a ctor-param class) so executor-side Java
  // deserialization never needs a no-arg constructor from this class.
  //
  // `seed` (second child) supports EXACT RESUMPTION for incremental
  // mart refreshes: a per-group struct (joined onto every input row,
  // so it is constant within a window partition) holding the
  // aggregate's internal state as previously captured with the
  // `emitState` variant. On the first input row of a partition the
  // state initializes from the seed (NULL seed = fresh start), after
  // which the recursion continues bit-for-bit as if it had consumed
  // the full history the seed summarizes.
  def child: Expression
  def seed: Expression
  final override def left: Expression = child
  final override def right: Expression = seed
  override def nullable: Boolean = true
  override def merge(state: S, other: S): S =
    throw new UnsupportedOperationException(
      s"$prettyName is an ordered running aggregate: window-use only, " +
        "no partial aggregation")
  final override def update(state: S, input: InternalRow): S = {
    val st = seedOnce(state, input)
    val v = child.eval(input)
    if (v == null) st else updateValue(st, v.asInstanceOf[Double])
  }
  protected def seedOnce(state: S, input: InternalRow): S
  protected def updateValue(state: S, v: Double): S
}

/** Mutable smoothing state: warm-up count, seed accumulator / running
  * average. */
final class EmaState(var count: Long, var acc: Double,
  var seeded: Boolean = false)

object Ema {
  /** Which SMA-seeded exponential average [[Ema]] evaluates: its SQL
    * name and its smoothing factor α for a period n. */
  sealed abstract class Kind(val prettyName: String) extends Serializable {
    def alpha(n: Int): Double
  }
  /** `ema`: α = 2/(n+1). */
  case object Standard extends Kind("ema") {
    def alpha(n: Int): Double = 2.0 / (n + 1)
  }
  /** `wilder_ma`: Wilder's smoothing, α = 1/n. */
  case object Wilder extends Kind("wilder_ma") {
    def alpha(n: Int): Double = 1.0 / n
  }

  /** Serialized-state shape for seeding/emitState. */
  val stateType: StructType = StructType(Seq(
    StructField("count", LongType), StructField("acc", DoubleType)))
  def nullSeed: Expression = Literal.create(null, stateType)

  /** One non-NULL input of the recurrence: the first n values sum into
    * the seed, the n-th turns the sum into their mean, and every later
    * value smooths as `α·v + (1 − α)·acc`. The one copy of the step:
    * the aggregate and [[graft.stream.IndicatorStream]] both run it. */
  def step(s: EmaState, v: Double, n: Int, alpha: Double): Unit = {
    s.count += 1
    if (s.count < n) s.acc += v
    else if (s.count == n) { s.acc += v; s.acc = s.acc / n }
    else s.acc = alpha * v + (1 - alpha) * s.acc
  }

  /** The average is defined (it is `acc`) once the seed has filled. */
  def defined(s: EmaState, n: Int): Boolean = s.count >= n
}

/** `ema(value, n)` / `wilder_ma(value, n)` — SMA-seeded exponential
  * moving average with α from `kind` ([[Ema.Standard]] 2/(n+1),
  * [[Ema.Wilder]] 1/n). NULL until n non-NULL values have arrived;
  * NULL inputs are skipped, so smoothing a derived series that only
  * becomes defined mid-stream (the MACD line, the DX line of ADX)
  * seeds on its first n defined values. With `emitState` the aggregate
  * evaluates to its internal (count, acc) struct instead of the
  * average — the snapshot a later run passes back as `seed` to
  * continue exactly.
  */
case class Ema(child: Expression, n: Int, kind: Ema.Kind = Ema.Standard,
    seed: Expression = Ema.nullSeed, emitState: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends RunningAggBase[EmaState] {

  override def prettyName: String = kind.prettyName
  override def dataType: DataType =
    if (emitState) Ema.stateType else DoubleType
  private val alpha = kind.alpha(n)

  override def createAggregationBuffer(): EmaState = new EmaState(0L, 0.0)

  override protected def seedOnce(s: EmaState, input: InternalRow): EmaState = {
    if (!s.seeded) {
      s.seeded = true
      seed.eval(input) match {
        case null => ()
        case r: InternalRow => s.count = r.getLong(0); s.acc = r.getDouble(1)
      }
    }
    s
  }

  override protected def updateValue(s: EmaState, v: Double): EmaState = {
    Ema.step(s, v, n, alpha)
    s
  }

  override def eval(s: EmaState): Any =
    if (emitState) new GenericInternalRow(Array[Any](s.count, s.acc))
    else if (Ema.defined(s, n)) s.acc else null

  override def serialize(s: EmaState): Array[Byte] = {
    val b = ByteBuffer.allocate(17)
    b.put(if (s.seeded) 1.toByte else 0.toByte)
      .putLong(s.count).putDouble(s.acc)
    b.array()
  }
  override def deserialize(bytes: Array[Byte]): EmaState = {
    val b = ByteBuffer.wrap(bytes)
    val seeded = b.get() == 1.toByte
    new EmaState(b.getLong(), b.getDouble(), seeded)
  }

  override def withNewMutableAggBufferOffset(o: Int): Ema =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): Ema =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Ema = copy(child = l, seed = r)
}

/** Mutable RSI state: rows seen, previous close, Wilder averages. */
final class RsiState(var count: Long, var prev: Double,
    var sumGain: Double, var sumLoss: Double,
    var avgGain: Double, var avgLoss: Double,
    var seeded: Boolean = false)

object WilderRsi {
  /** Serialized-state shape for seeding/emitState. */
  val stateType: StructType = StructType(Seq(
    StructField("count", LongType), StructField("prev", DoubleType),
    StructField("sum_gain", DoubleType), StructField("sum_loss", DoubleType),
    StructField("avg_gain", DoubleType), StructField("avg_loss", DoubleType)))
  def nullSeed: Expression = Literal.create(null, stateType)

  /** One non-NULL close: from the second close on, its gain and loss
    * against the previous close sum into the seed for the first n
    * deltas (the n-th turns the sums into averages), then smooth as
    * `avg = (avg·(n−1) + cur)/n`. The one copy of the step: the
    * aggregate and [[graft.stream.IndicatorStream]] both run it. */
  def step(s: RsiState, v: Double, n: Int): Unit = {
    if (s.count >= 1) {
      val d = v - s.prev
      val g = if (d > 0) d else 0.0
      val l = if (d < 0) -d else 0.0
      val deltaIdx = s.count // 1-based index of THIS delta
      if (deltaIdx <= n) {
        s.sumGain += g; s.sumLoss += l
        if (deltaIdx == n) { s.avgGain = s.sumGain / n; s.avgLoss = s.sumLoss / n }
      } else {
        s.avgGain = (s.avgGain * (n - 1) + g) / n
        s.avgLoss = (s.avgLoss * (n - 1) + l) / n
      }
    }
    s.prev = v
    s.count += 1
  }

  /** RSI is defined once n deltas have arrived. */
  def defined(s: RsiState, n: Int): Boolean = s.count > n

  /** The RSI of the Wilder averages; 100 when there is no loss. */
  def value(s: RsiState): Double =
    if (s.avgLoss == 0.0) 100.0
    else 100.0 - 100.0 / (1 + s.avgGain / s.avgLoss)
}

/** `wilder_rsi(close, n)` — RSI with Wilder smoothing: the first n
  * deltas seed simple averages, then avg = (prev·(n−1) + cur)/n;
  * avgLoss = 0 → 100. NULL until n deltas have arrived. `seed` /
  * `emitState` resume/capture the full six-field internal state (see
  * [[RunningAggBase]]).
  */
case class WilderRsi(child: Expression, n: Int,
    seed: Expression = WilderRsi.nullSeed, emitState: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends RunningAggBase[RsiState] {

  override def prettyName: String = "wilder_rsi"
  override def dataType: DataType =
    if (emitState) WilderRsi.stateType else DoubleType

  override def createAggregationBuffer(): RsiState =
    new RsiState(0L, 0.0, 0.0, 0.0, 0.0, 0.0)

  override protected def seedOnce(s: RsiState, input: InternalRow): RsiState = {
    if (!s.seeded) {
      s.seeded = true
      seed.eval(input) match {
        case null => ()
        case r: InternalRow =>
          s.count = r.getLong(0); s.prev = r.getDouble(1)
          s.sumGain = r.getDouble(2); s.sumLoss = r.getDouble(3)
          s.avgGain = r.getDouble(4); s.avgLoss = r.getDouble(5)
      }
    }
    s
  }

  override protected def updateValue(s: RsiState, v: Double): RsiState = {
    WilderRsi.step(s, v, n)
    s
  }

  override def eval(s: RsiState): Any =
    if (emitState)
      new GenericInternalRow(Array[Any](s.count, s.prev, s.sumGain,
        s.sumLoss, s.avgGain, s.avgLoss))
    else if (WilderRsi.defined(s, n)) WilderRsi.value(s)
    else null

  override def serialize(s: RsiState): Array[Byte] = {
    val b = ByteBuffer.allocate(49)
    b.put(if (s.seeded) 1.toByte else 0.toByte)
      .putLong(s.count).putDouble(s.prev).putDouble(s.sumGain)
      .putDouble(s.sumLoss).putDouble(s.avgGain).putDouble(s.avgLoss)
    b.array()
  }
  override def deserialize(bytes: Array[Byte]): RsiState = {
    val b = ByteBuffer.wrap(bytes)
    val seeded = b.get() == 1.toByte
    new RsiState(b.getLong(), b.getDouble(), b.getDouble(), b.getDouble(),
      b.getDouble(), b.getDouble(), seeded)
  }

  override def withNewMutableAggBufferOffset(o: Int): WilderRsi =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WilderRsi =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): WilderRsi = copy(child = l, seed = r)
}

/** Column-API and SQL surface for the native indicator aggregates. */
object TaFunctions {

  /** One SQL function of the engine: its name, its catalog entry, and
    * its builder over the call's argument expressions. */
  final case class SqlFunction(name: String, info: ExpressionInfo,
      build: Seq[Expression] => Expression)

  /** The engine's SQL surface, one row per function: [[register]] puts
    * it in a session's registry and [[GraftExtensions]] injects it. */
  val sqlFunctions: Seq[SqlFunction] = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
      SqlFunction(name, new ExpressionInfo(cls.getName, name), build)
    Seq(
      fn("ema", classOf[Ema])(es =>
        Ema(asDouble(es.head), intLit(es(1), "ema"))),
      fn("wilder_ma", classOf[Ema])(es =>
        Ema(asDouble(es.head), intLit(es(1), "wilder_ma"), Ema.Wilder)),
      fn("wilder_rsi", classOf[WilderRsi])(es =>
        WilderRsi(asDouble(es.head), intLit(es(1), "wilder_rsi"))),
      fn("dot_product", classOf[DotProduct])(es => DotProduct(es.head, es(1))),
      fn("word_shingles", classOf[WordShingles])(es =>
        WordShingles(es.head, intLit(es(1), "word_shingles"))),
      fn("minhash_sig", classOf[MinHashSig])(es =>
        MinHashSig(es.head, intLit(es(1), "minhash_sig"))),
      fn("minhash_sig_md5", classOf[MinHashSigMd5])(es =>
        MinHashSigMd5(es.head, intLit(es(1), "minhash_sig_md5"))),
      fn("sorted_hashes", classOf[SortedHashes])(es => SortedHashes(es.head)),
      fn("sorted_intersect_count", classOf[SortedIntersectCount])(es =>
        SortedIntersectCount(es.head, es(1))),
      fn("sq_diff_sum", classOf[SqDiffSum])(es => SqDiffSum(es.head, es(1))),
      fn("simhash32", classOf[SimHashFp])(es => SimHash32(es.head)),
      fn("simhash64", classOf[SimHashFp])(es => SimHashFp(es.head, 64)),
      fn("sorted_run_stats", classOf[SortedRunStats])(es =>
        SortedRunStats(es.head)),
      fn("rolling_fp", classOf[RollingFp])(es => RollingFp(es.head)),
      fn("nfc_normalize", classOf[NfcNormalize])(es => NfcNormalize(es.head)),
      fn("quantize_i8", classOf[QuantizeI8])(es => QuantizeI8(es.head)),
      fn("quantized_dot", classOf[QuantizedDot])(es =>
        QuantizedDot(es.head, es(1))),
      SqlFunction("bottom_k_sketch",
        new ExpressionInfo(classOf[BottomKByHash].getName, null,
          "bottom_k_sketch",
          "bottom_k_sketch(value, key, k) - deterministic k-row uniform " +
            "sample of value, selected by md5(key) order (mergeable; " +
            "map-side partials). The row key MUST be unique per row: " +
            "duplicate keys collapse to one sample slot (min value), " +
            "biasing the sample relative to a rank-based formulation.",
          // "" not null: the 5-arg ctor forwards extended into an
          // assert-guarded arguments slot (AssertionError under -ea)
          ""),
        es => BottomKByHash(asDouble(es.head), es(1),
          intLit(es(2), "bottom_k_sketch")).toAggregateExpression()))
  }

  /** A period or size argument: an integer literal. */
  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn needs an integer literal, got $other")
  }

  // Unconditional: the child may still be unresolved here, and
  // Cast(double → double) folds away during optimization anyway.
  private def asDouble(e: Expression): Expression = Cast(e, DoubleType)

  /** `ema(c, n)` as a Column; apply `.over(running frame)`. */
  def ema(c: Column, n: Int): Column =
    GraftSqlShims.column(
      Ema(asDouble(GraftSqlShims.expression(c)), n).toAggregateExpression())

  /** Seed-resumed EMA: continues from a per-group (count, acc) state
    * struct captured by [[emaState]] (NULL seed = fresh start).
    */
  def ema(c: Column, n: Int, seed: Column): Column =
    GraftSqlShims.column(
      Ema(asDouble(GraftSqlShims.expression(c)), n,
        seed = GraftSqlShims.expression(seed)).toAggregateExpression())

  /** Running EMA internal state (count, acc) — the resumption
    * snapshot, optionally itself seed-resumed.
    */
  def emaState(c: Column, n: Int,
      seed: Option[Column] = None): Column =
    GraftSqlShims.column(
      Ema(asDouble(GraftSqlShims.expression(c)), n,
        seed = seed.map(GraftSqlShims.expression).getOrElse(Ema.nullSeed),
        emitState = true).toAggregateExpression())

  /** `wilder_ma(c, n)` — Wilder smoothing (α = 1/n, SMA-seeded) as a
    * Column; apply `.over(running frame)`. NULL inputs skipped.
    */
  def wilderMa(c: Column, n: Int): Column =
    GraftSqlShims.column(
      Ema(asDouble(GraftSqlShims.expression(c)), n, Ema.Wilder)
        .toAggregateExpression())

  /** `wilder_rsi(c, n)` as a Column; apply `.over(running frame)`. */
  def wilderRsi(c: Column, n: Int): Column =
    GraftSqlShims.column(
      WilderRsi(asDouble(GraftSqlShims.expression(c)), n)
        .toAggregateExpression())

  /** Seed-resumed Wilder RSI (state from [[wilderRsiState]]). */
  def wilderRsi(c: Column, n: Int, seed: Column): Column =
    GraftSqlShims.column(
      WilderRsi(asDouble(GraftSqlShims.expression(c)), n,
        seed = GraftSqlShims.expression(seed)).toAggregateExpression())

  /** Running Wilder-RSI internal state — the resumption snapshot. */
  def wilderRsiState(c: Column, n: Int,
      seed: Option[Column] = None): Column =
    GraftSqlShims.column(
      WilderRsi(asDouble(GraftSqlShims.expression(c)), n,
        seed = seed.map(GraftSqlShims.expression)
          .getOrElse(WilderRsi.nullSeed),
        emitState = true).toAggregateExpression())

  /** Register every function of [[sqlFunctions]] in a session's
    * function registry so `spark.sql("... ema(close, 5) OVER (...)")`
    * resolves.
    */
  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f =>
      r.registerFunction(FunctionIdentifier(f.name), f.info, f.build))
  }
}

/** `SparkSessionExtensions` hook: start Spark with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` to get
  * [[TaFunctions.sqlFunctions]] in every session's SQL surface, plus the
  * HOF-to-kernel rewrite (see [[KernelRewrite]]'s vector-column
  * contract), which [[TaFunctions.register]] does not install.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => KernelRewrite)
    TaFunctions.sqlFunctions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
  }
}
