package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bits`-wide SimHash of a token array as ONE map pass, emitted as the
  * bit string the engine-portable contract uses. `bits` ∈ {32, 64} in
  * practice (≤ 128: one md5 digest supplies all the per-token bits).
  *
  * Bit j of a token is bit (3 − j%4) of hex nibble j/4 of md5(token);
  * the fingerprint bit is the sign of the token-frequency-weighted ±1
  * sum — definitionally identical to the explode → md5 → per-bit
  * aggregate groupBy formulation it replaces
  * (`ReferenceForms.simhashViaAgg` in the tests, pinned in
  * MinHashSigSpec), but
  * with NO shuffle: the explode/groupBy shape exchanges every token row
  * of the corpus, this one digests each token where the document
  * already sits. Duplicate tokens contribute once per occurrence,
  * exactly like the exploded rows did.
  *
  * The 32-bit form is the legacy fingerprint surface; 64 bits is the
  * corpus-scale default for the Hamming near-dup family — at ≥ 10⁸ docs
  * a 32-bit fingerprint space saturates with spurious exact collisions
  * (birthday bound ≈ 2¹⁶ docs per expected collision), and 16-bit bands
  * (65 536 buckets each) keep the banded candidate join selective where
  * 8-bit bands (256 buckets) degenerate toward all-pairs.
  */
case class SimHashFp(child: Expression, bits: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if bits < 1 || bits > 128 => TypeCheckResult.TypeCheckFailure(
      s"simhash width must be in [1, 128], got $bits")
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"simhash needs array<string> input, got ${dt.sql}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = s"simhash$bits"

  def compute(v: Any): Any = {
    if (v == null) return null
    val toks = v.asInstanceOf[ArrayData]
    val counts = new Array[Int](bits)
    val md = SimHashFp.digest.get()
    val m = toks.numElements()
    var i = 0
    while (i < m) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        md.reset()
        val d = md.digest(t.getBytes)
        var j = 0
        while (j < bits) {
          // hex nibble j/4 = high/low nibble of digest byte (j/4)/2
          val hexIdx = j / 4
          val nib = if ((hexIdx & 1) == 0) (d(hexIdx / 2) >> 4) & 0xF
                    else d(hexIdx / 2) & 0xF
          val bit = (nib >> (3 - (j & 3))) & 1
          counts(j) += bit * 2 - 1
          j += 1
        }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(bits)
    var j = 0
    while (j < bits) {
      sb.append(if (counts(j) > 0) '1' else '0')
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHashFp", this)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.unsafe.types.UTF8String) $ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashFp =
    copy(child = newChild)
}

object SimHashFp {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** The legacy 32-bit surface — [[SimHashFp]] at width 32, kept as the
  * named form the streaming ingest gate and the q66/q93 oracles pin.
  */
object SimHash32 {
  def apply(child: Expression): SimHashFp = SimHashFp(child, 32)
}
