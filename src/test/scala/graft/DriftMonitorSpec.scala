package graft

import graft.stream.DriftMonitor
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming PSI drift monitor ([[DriftMonitor]]): append-mode
  * windowed histogram vs a fixed reference, alarm on shift.
  */
class DriftMonitorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  // reference: uniform over 4 bins (edges 1, 2, 3)
  private val ref = Seq(0.25, 0.25, 0.25, 0.25)
  private val edges = Seq(1.0, 2.0, 3.0)

  /** batch-side mirror of the monitor's PSI for a window's counts */
  private def psiOf(counts: Seq[Long]): Double = {
    val tot = counts.sum.toDouble
    counts.zip(ref).map { case (c, pr) =>
      val p = math.max(c / tot, 1e-4)
      val pc = math.max(pr, 1e-4)
      (p - pc) * math.log(p / pc)
    }.sum
  }

  test("matching window stays quiet; shifted window alarms, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("drift-out")
    val mem = MemoryStream[(Long, Double)]
    val values = mem.toDF().toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
    val q = DriftMonitor.windowedPsi(values, ref, edges,
        windowLen = "1 hour", lateness = "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("drift-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$out/t")
      }.start()
    val h = 1700000000L - (1700000000L % 3600)
    // window 1: uniform (matches the reference)
    mem.addData((h + 1, 0.5), (h + 2, 1.5), (h + 3, 2.5), (h + 4, 3.5))
    // window 2: everything in the last bin (hard shift)
    mem.addData((h + 3601, 9.0), (h + 3602, 9.0), (h + 3603, 9.0),
      (h + 3604, 9.0))
    q.processAllAvailable()
    // advance the watermark past both windows
    mem.addData((h + 3 * 3600, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$out/t").orderBy("window_start")
      .collect()
    assert(rows.length == 2) // the third window never closed
    assert(rows(0).getAs[Long]("n") == 4L)
    assert(!rows(0).getAs[Boolean]("alert"))
    assert(math.abs(rows(0).getAs[Double]("psi") -
      psiOf(Seq(1L, 1L, 1L, 1L))) < 1e-12)
    assert(rows(1).getAs[Boolean]("alert"))
    assert(math.abs(rows(1).getAs[Double]("psi") -
      psiOf(Seq(0L, 0L, 0L, 4L))) < 1e-12)
  }

  test("batch parity: the same expression over a static frame") {
    import spark.implicits._
    val df = Seq((1L, 0.5), (2L, 1.5), (3L, 2.5), (4L, 3.5))
      .toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
    val r = DriftMonitor.windowedPsi(df, ref, edges).collect().head
    assert(math.abs(r.getAs[Double]("psi") -
      psiOf(Seq(1L, 1L, 1L, 1L))) < 1e-12)
  }
}
