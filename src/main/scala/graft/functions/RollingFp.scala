package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Rabin–Karp rolling fingerprint of a token array as ONE map pass:
  * `h = fold(toks, 0, (acc, t) → (acc·31 + code(t)) mod (10⁹+7))` with
  * `code(t)` = the first 32 bits of md5(t) (big-endian unsigned).
  *
  * Definitionally identical to the higher-order `aggregate` fold it
  * replaces (`ReferenceForms.rollingFingerprintHof` in the tests,
  * pinned in LlmSpec) — HOF lambdas run INTERPRETED and break
  * whole-stage codegen, which made the fold the per-row bottleneck of
  * the fingerprint scan. A NULL element poisons the fold to NULL,
  * matching the aggregate formulation (`acc·31 + NULL` is NULL and
  * stays NULL). Order-sensitive and incrementally maintainable, unlike
  * the set-style content fingerprint.
  */
case class RollingFp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"rolling_fp needs array<string> input, got ${dt.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_fp"

  def compute(v: Any): Any = {
    if (v == null) return null
    val toks = v.asInstanceOf[ArrayData]
    val md = RollingFp.digest.get()
    val m = toks.numElements()
    var acc = 0L
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      if (t == null) return null // NULL element poisons the whole fold
      md.reset()
      val d = md.digest(t.getBytes)
      val code = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      acc = (acc * 31L + code) % 1000000007L
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingFp", this)
    val obj = ctx.freshName("fp")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.compute($c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $obj).longValue(); }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): RollingFp =
    copy(child = newChild)
}

object RollingFp {
  private[functions] val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
