package graft

import scala.annotation.tailrec
import graft.queries.Analytics
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `copurchase_edges` shared build: its rows, and where its
  * lineitem self-join runs. A fixture scan is one row group, so a join
  * probed straight from the scan runs in one task; the build shuffles
  * on `l_orderkey` first. Each test builds in its own `newSession()`,
  * so no other suite's held frames are touched. */
class CoPurchaseEdgesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("the build's (a, b, w) rows equal the plain self-join's") {
    val s = spark.newSession()
    val built = Analytics.coPurchaseEdgesW(s, sf)
    val li = Tables.load(s, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val plain = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") =!= col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("w"))
    assert(built.columns.toSeq == Seq("a", "b", "w"))
    assert(built.count() > 0)
    assert(built.exceptAll(plain).isEmpty && plain.exceptAll(built).isEmpty)
    SharedBuilds.all.find(_.name == "copurchase_edges").get.clear(s)
  }

  test("the self-join's probe side reads an l_orderkey exchange, " +
      "not the parquet scan") {
    val s = spark.newSession()
    val plans = TestSpark.checkpointPlansDuring(
      Analytics.coPurchaseEdgesW(s, sf), session = s)
    assert(plans.length == 1)
    val probes = collect(plans.head) {
      case j: HashJoin => if (j.buildSide == BuildLeft) j.right else j.left
    }
    assert(probes.length == 1, s"one self-join:\n${plans.head}")
    feed(probes.head) match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case HashPartitioning(Seq(k: Attribute), _) =>
          assert(k.name == "l_orderkey", s"hashed on $k")
        case p => fail(s"partitioned as $p")
      }
      case p => fail(s"the probe side is fed by ${p.nodeName}:\n${plans.head}")
    }
    SharedBuilds.all.find(_.name == "copurchase_edges").get.clear(s)
  }

  /** The first exchange or leaf under `p`, through query stages, reused
    * exchanges and single-child operators. */
  @tailrec private def feed(p: SparkPlan): SparkPlan = p match {
    case q: QueryStageExec => feed(q.plan)
    case r: ReusedExchangeExec => feed(r.child)
    case e: Exchange => e
    case o if o.children.length == 1 => feed(o.children.head)
    case o => o
  }
}
