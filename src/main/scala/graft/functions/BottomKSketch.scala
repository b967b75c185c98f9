package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.functions.{element_at, lit, size, when}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Bottom-k-by-hash sketch: keep the `k` values whose row keys have
  * the smallest `md5(key)` hex digests — a DETERMINISTIC uniform
  * sample (the hash order is a fixed random permutation of rows), so
  * unlike reservoir sampling the result is reproducible across runs,
  * partitionings, and engines, and the DuckDB oracle can re-derive the
  * exact sample with `row_number() OVER (ORDER BY md5(key))`.
  *
  * This is the engine's mergeable-sketch tier: a
  * `TypedImperativeAggregate` WITH a real `merge` (union the samples,
  * keep the k smallest hashes — associative and commutative), so
  * map-side partial aggregation applies and a quantile profile of a
  * 100 TB table is one O(n) scan + O(k·partitions) merge, instead of
  * the per-group full sort exact percentiles pay. Error of a
  * p-quantile estimate from a k-sample is O(1/√k).
  *
  * `eval` returns the sampled VALUES in hash order (array<double>);
  * quantile selection over the sample is plain codegen'd array math
  * downstream (`sort_array` + `element_at`). NULL values and NULL
  * keys are skipped.
  */
case class BottomKByHash(child: Expression, key: Expression, k: Int,
    valueFromHash: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[String, Double]]
    with BinaryLike[Expression] with Serializable {

  require(k > 0, "bottom_k_sketch needs k > 0")

  override def prettyName: String = "bottom_k_sketch"
  override def left: Expression = child
  override def right: Expression = key
  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): java.util.TreeMap[String, Double] =
    new java.util.TreeMap[String, Double]()

  private def md5Hex(s: String): String = {
    // MessageDigest is not thread-safe — thread-confined reuse via
    // ThreadLocal (instantiating one per row costs a provider lookup
    // on the sketch's only hot path); hex via a lookup table, not
    // per-byte boxed formatting. Hex string order == unsigned numeric
    // order of the 128-bit digest, which is what the oracle's ORDER BY
    // md5(...) compares too.
    val d = BottomKByHash.digests.get()
    d.reset()
    val bytes = d.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val b = bytes(i) & 0xff
      out(2 * i) = BottomKByHash.hexChars(b >>> 4)
      out(2 * i + 1) = BottomKByHash.hexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  private def insert(m: java.util.TreeMap[String, Double],
      h: String, v: Double): Unit = {
    // Duplicate row keys (same digest) collapse to ONE sample slot
    // keeping the MIN value — deterministic and merge-order-invariant
    // (min is associative/commutative), and the buffer never shrinks
    // below k the way evict-then-overwrite would. For exact parity
    // with the oracle's row_number() formulation pass a UNIQUE row
    // key; with duplicates the engine keeps one slot per key while a
    // rank formulation would keep several.
    if (m.containsKey(h)) {
      if (v < m.get(h)) m.put(h, v): Unit
    } else if (m.size < k) { m.put(h, v): Unit }
    else if (h < m.lastKey()) { m.remove(m.lastKey()); m.put(h, v): Unit }
  }

  // The [[BottomKByHash.kmvDistinct]] fast path: the sampled VALUE is
  // the 48-bit fraction of the ordering digest itself, so one md5 per
  // row serves both roles (the separate codegen'd conv(md5(...)) child
  // would hash every key a second time). First 12 nibbles / 2^48 —
  // digit-identical to the conv formulation the oracle re-derives.
  private def fracOfHex(h: String): Double = {
    var acc = 0L
    var i = 0
    while (i < 12) {
      val c = h.charAt(i)
      acc = (acc << 4) | (if (c <= '9') c - '0' else c - 'a' + 10)
      i += 1
    }
    acc.toDouble / 281474976710656.0 // 2^48
  }

  override def update(m: java.util.TreeMap[String, Double],
      input: InternalRow): java.util.TreeMap[String, Double] = {
    if (valueFromHash) {
      val ky = key.eval(input)
      if (ky != null) {
        val h = md5Hex(ky.toString)
        insert(m, h, fracOfHex(h))
      }
    } else {
      val v = child.eval(input)
      val ky = key.eval(input)
      if (v != null && ky != null) {
        insert(m, md5Hex(ky.toString), v.asInstanceOf[Double])
      }
    }
    m
  }

  override def merge(m: java.util.TreeMap[String, Double],
      other: java.util.TreeMap[String, Double]): java.util.TreeMap[String, Double] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      insert(m, e.getKey, e.getValue)
    }
    m
  }

  override def eval(m: java.util.TreeMap[String, Double]): Any = {
    val out = new Array[Any](m.size)
    val it = m.values().iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(m: java.util.TreeMap[String, Double]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    o.writeInt(m.size)
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      o.writeUTF(e.getKey); o.writeDouble(e.getValue)
    }
    o.flush()
    bos.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[String, Double] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val m = new java.util.TreeMap[String, Double]()
    val n = in.readInt()
    var i = 0
    while (i < n) { m.put(in.readUTF(), in.readDouble()); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomKByHash =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKByHash =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BottomKByHash =
    copy(child = l, key = r)
}

object BottomKByHash {
  private val hexChars = "0123456789abcdef".toCharArray
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Column-API entry point: `bottomK(value, rowKey, k)` as an
    * aggregate column.
    */
  def apply(value: Column, rowKey: Column, k: Int): Column =
    GraftSqlShims.column(BottomKByHash(
      GraftSqlShims.expression(value.cast("double")),
      GraftSqlShims.expression(rowKey), k).toAggregateExpression())

  /** The RAW bottom-k sample of [[kmvDistinct]]'s sketch: the k
    * smallest distinct-key 48-bit md5 fractions in ascending order
    * (array<double>). Exposed for SKETCH-MERGE set operations — two
    * samples union/intersect with plain array math (the KMV identity:
    * a hash in the union's bottom-k that belongs to side A is
    * necessarily in A's bottom-k), so slice-vs-slice overlap needs no
    * pairwise join. Same one-md5-per-row fast path as [[kmvDistinct]].
    */
  def kmvSample(key: Column, k: Int): Column =
    GraftSqlShims.column(BottomKByHash(
      GraftSqlShims.expression(lit(0.0)),
      GraftSqlShims.expression(key.cast("string")), k, valueFromHash = true)
      .toAggregateExpression())

  /** KMV (k-minimum-values) distinct-count estimator from the SAME
    * sketch: sample the md5-derived uniform fraction of each key with
    * the KEY ITSELF as the sketch's row key, so the ordering digest and
    * the sampled value come from one md5 and `eval` returns the k
    * smallest DISTINCT-key hash fractions in ascending order (the
    * sketch collapses duplicate keys to one slot by construction).
    * The classic estimator is then plain array math: D̂ = (k−1)/u₍ₖ₎
    * with u₍ₖ₎ = `element_at(sketch, k)`; below k distinct keys the
    * sample IS the distinct set and the count is exact. Error is
    * O(1/√k) [Bar-Yossef et al. 2002].
    *
    * The fraction is the first 12 md5 nibbles over 2^48 — exact in a
    * double on both engines, so even this APPROXIMATE operator carries
    * a full hash-gate oracle (`ORDER BY md5(key) LIMIT k` re-derives
    * the identical estimate; see OracleSql.md5Frac48).
    *
    * The 100 TB story: `count(DISTINCT x)` shuffles every distinct
    * value; this is an O(k) buffer with a real `merge`, so map-side
    * partial aggregation applies and the cardinality profile of a
    * petabyte table is one scan + O(k·partitions) merge.
    */
  def kmvDistinct(key: Column, k: Int): Column =
    // valueFromHash inside kmvSample: the sketch derives the fraction
    // from its own ordering digest — ONE md5 per row, not two (a
    // conv(md5(...)) child would re-hash every key)
    kmvEstimate(kmvSample(key, k), k)

  /** The KMV (k−1)/u₍ₖ₎ inversion over any ascending bottom-k fraction
    * sample (a [[kmvSample]] output, or a merged union of samples):
    * exact count below k, the classic estimator at k. Shared by
    * [[kmvDistinct]] and [[graft.llm.Corpus.kmvOverlap]]'s union
    * estimate so the estimator lives in one place.
    */
  def kmvEstimate(sample: Column, k: Int): Column =
    when(size(sample) < k, size(sample).cast("double"))
      .otherwise(lit((k - 1).toDouble) / element_at(sample, k))
}
