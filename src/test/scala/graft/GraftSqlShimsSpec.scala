package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSqlShims.localCheckpointPartitioned]] keeps the hash
  * partitioning its rows really have, and only that one. */
class GraftSqlShimsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def withAqe[T](f: => T): T = {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  private def pairs: DataFrame =
    spark.range(0, 400).select((col("id") % 37).as("src"),
      col("id").as("v"))

  private def leafPartitioning(df: DataFrame): Partitioning =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.outputPartitioning
      case p => fail(s"not a checkpoint leaf: $p")
    }

  /** Shuffles the executed (final, adaptive) plan of `df` ran. */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }.size
  }

  test("under AQE a checkpoint keeps its hash partitioning: a groupBy " +
      "on the key plans no shuffle") {
    withAqe {
      val cp = GraftSqlShims.localCheckpointPartitioned(
        pairs.repartition(4, col("src")))
      assert(leafPartitioning(cp).isInstanceOf[HashPartitioning])
      val agg = cp.groupBy(col("src")).agg(sum(col("v")).as("s"))
      assert(shuffles(agg) == 0,
        agg.queryExecution.executedPlan.toString)
      val expect = pairs.groupBy(col("src")).agg(sum(col("v")).as("s"))
      assert(agg.collect().toSet == expect.collect().toSet)
    }
  }

  test("coalesced or unknown final partitioning stays unknown") {
    withAqe {
      // AQE merges the small by-column shuffle into fewer partitions:
      // hash buckets no longer map to partitions by `hash mod n`
      val coalescedRead = GraftSqlShims.localCheckpointPartitioned(
        pairs.repartition(col("src")))
      assert(!leafPartitioning(coalescedRead)
        .isInstanceOf[HashPartitioning])
      val coalesced = GraftSqlShims.localCheckpointPartitioned(
        pairs.repartition(4, col("src")).coalesce(2))
      assert(!leafPartitioning(coalesced).isInstanceOf[HashPartitioning])
      val unknown = GraftSqlShims.localCheckpointPartitioned(pairs.union(pairs))
      assert(!leafPartitioning(unknown).isInstanceOf[HashPartitioning])
      // the plain checkpoint leaves the layout unknown
      val plain = GraftSqlShims.localCheckpointFreshStats(
        pairs.repartition(4, col("src")))
      assert(!leafPartitioning(plain).isInstanceOf[HashPartitioning])
    }
  }

  test("joins of a partitioned checkpoint return the right rows: a " +
      "self-join with deduplicated attributes, and a shuffled other " +
      "side") {
    withAqe {
      val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val cp = GraftSqlShims.localCheckpointPartitioned(
          pairs.repartition(4, col("src")))
        val self = cp.join(cp.select(col("src"), col("v").as("v2")), "src")
          .where(col("v") < col("v2"))
        val selfExpect = pairs
          .join(pairs.select(col("src"), col("v").as("v2")), "src")
          .where(col("v") < col("v2"))
        assert(self.collect().toSet == selfExpect.collect().toSet)
        val other = spark.range(0, 37).select(col("id").as("src"),
          (col("id") * 10).as("t"))
        val mixed = cp.join(other, "src")
        assert(mixed.collect().toSet ==
          pairs.join(other, "src").collect().toSet)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    }
  }
}
