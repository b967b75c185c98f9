package graft

import graft.functions.TaFunctions
import graft.mart.Trend
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ATR/ADX trend chain ([[Trend]]) and the Wilder smoothing it rides
  * on (`wilder_ma`: [[graft.functions.Ema]] of kind
  * [[graft.functions.Ema.Wilder]]).
  */
class TrendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val run = Window.partitionBy("id").orderBy("tkey")
    .rowsBetween(Window.unboundedPreceding, 0)

  test("wilder_ma == scala fold (SMA seed then alpha=1/n recurrence), exactly") {
    val n = 3
    val vals = Seq(10.0, 12.0, 11.0, 13.0, 15.0, 14.0, 16.0)
    val df = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("id", "tkey", "v")
    val got = df.select(col("tkey"),
        TaFunctions.wilderMa(col("v"), n).over(run).as("w"))
      .orderBy("tkey").collect().map(r => Option(r.get(1)))
    // reference fold, same operation order as the aggregate
    val expected = scala.collection.mutable.ArrayBuffer.empty[Option[Double]]
    var acc = 0.0; var count = 0
    val alpha = 1.0 / n
    vals.foreach { v =>
      count += 1
      if (count < n) acc += v
      else if (count == n) { acc += v; acc = acc / n }
      else acc = alpha * v + (1 - alpha) * acc
      expected += (if (count >= n) Some(acc) else None)
    }
    assert(got.toSeq == expected.toSeq)
  }

  test("wilder_ma skips NULL inputs (seed counts only defined values)") {
    val rows = Seq((1L, 0L, None), (1L, 1L, Some(2.0)), (1L, 2L, None),
      (1L, 3L, Some(4.0)), (1L, 4L, Some(6.0)), (1L, 5L, Some(8.0)))
    val df = rows.toDF("id", "tkey", "v")
    val got = df.select(col("tkey"),
        TaFunctions.wilderMa(col("v"), 3).over(run).as("w"))
      .orderBy("tkey").collect().map(r => Option(r.get(1)))
    // seed completes at the third non-NULL value (tkey=4): (2+4+6)/3 = 4
    // then (1/3)*8 + (2/3)*4
    assert(got(0).isEmpty && got(2).isEmpty && got(3).isEmpty)
    assert(got(4).contains(4.0))
    assert(got(5).contains((1.0 / 3) * 8.0 + (1 - 1.0 / 3) * 4.0))
  }

  test("ATR/ADX chain on a handcrafted series matches the Wilder recurrence") {
    val n = 2
    // (high, low, close) rows; id 1, no scaling (id != 7)
    val bars = Seq(
      (10.0, 8.0, 9.0), (11.0, 9.0, 10.5), (12.0, 10.0, 11.0),
      (11.5, 9.5, 10.0), (13.0, 11.0, 12.5), (14.0, 12.0, 13.5))
      .zipWithIndex.map { case ((h, l, c), i) =>
        (1L, i.toLong, l + 0.5, h, l, c, 1.0)
      }.toDF("id", "tkey", "open", "high", "low", "close", "volume")
    val got = Trend.indicators(bars, n).orderBy("tkey").collect()

    // hand recurrence (same ops as the engine)
    val hs = Array(10.0, 11.0, 12.0, 11.5, 13.0, 14.0)
    val ls = Array(8.0, 9.0, 10.0, 9.5, 11.0, 12.0)
    val cs = Array(9.0, 10.5, 11.0, 10.0, 12.5, 13.5)
    val m = hs.length
    val tr, pdm, mdm = Array.ofDim[Double](m)
    for (i <- 1 until m) {
      tr(i) = math.max(hs(i) - ls(i),
        math.max(math.abs(hs(i) - cs(i - 1)), math.abs(ls(i) - cs(i - 1))))
      val up = hs(i) - hs(i - 1); val dn = ls(i - 1) - ls(i)
      pdm(i) = if (up > dn && up > 0) up else 0.0
      mdm(i) = if (dn > up && dn > 0) dn else 0.0
    }
    def wilder(xs: Seq[Double]): Seq[Option[Double]] = {
      var acc = 0.0; var count = 0
      xs.map { v =>
        count += 1
        if (count < n) acc += v
        else if (count == n) { acc += v; acc = acc / n }
        else acc = (1.0 / n) * v + (1 - 1.0 / n) * acc
        if (count >= n) Some(acc) else None
      }
    }
    val atr = None +: wilder(tr.drop(1))
    val smp = None +: wilder(pdm.drop(1))
    val smm = None +: wilder(mdm.drop(1))
    val dis = (atr, smp, smm).zipped.map {
      case (Some(a), Some(p), Some(q)) =>
        if (a != 0) Some((100.0 * p / a, 100.0 * q / a)) else Some((0.0, 0.0))
      case _ => None
    }
    val dx = dis.map {
      case Some((p, q)) =>
        Some(if (p + q != 0) 100.0 * math.abs(p - q) / (p + q) else 0.0)
      case None => None
    }
    val adx = wilder(dx.flatten.toSeq)
    val adxFull = dx.takeWhile(_.isEmpty) ++ adx

    got.zipWithIndex.foreach { case (r, i) =>
      def o(name: String): Option[Double] =
        Option(r.getAs[Any](name)).map(_.asInstanceOf[Double])
      assert(o("atr") == atr(i), s"atr row $i")
      assert(o("plus_di") == dis(i).map(_._1), s"plus_di row $i")
      assert(o("minus_di") == dis(i).map(_._2), s"minus_di row $i")
      assert(o("dx") == dx(i), s"dx row $i")
      assert(o("adx") == adxFull(i), s"adx row $i")
    }
    // warm-up shape (0-based): atr from index n (bar n+1), adx from
    // index 2n−1 (bar 2n)
    assert(got.map(r => Option(r.getAs[Any]("atr")).isDefined).toSeq ==
      (0 until m).map(_ >= n))
    assert(got.map(r => Option(r.getAs[Any]("adx")).isDefined).toSeq ==
      (0 until m).map(_ >= 2 * n - 1))
  }

  test("trend chain is partition-layout invariant") {
    val bars = Bars_
    val a = Trend.indicators(bars, 14).collect().toSet
    val b = Trend.indicators(bars.repartition(7), 14).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  private lazy val Bars_ = graft.ts.Bars.hourly(
    Tables.load(spark, "/root/testdata/sf0.001", "events"))
    .withColumn("tkey", col("t"))
}
