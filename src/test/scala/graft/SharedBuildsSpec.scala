package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The shared-build memo contract ([[SharedBuilds.memo]]). Every test
  * works in its own `newSession()`, so clearing never touches frames
  * another suite holds on the shared session. */
class SharedBuildsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the spec's builders ignore the fixture dir; it only keys the memo
  private val dir = "fixture-dir"

  private val baseBuilds = new AtomicInteger()
  private val base = SharedBuilds.memo("spec_base") { (s, _) =>
    baseBuilds.incrementAndGet()
    Checkpoints(s.range(0, 1000).toDF("id"))
  }
  // a builder that reads another memo — the re-entry shape of the
  // triangle and Brandes bundles
  private val dependent = SharedBuilds.memo("spec_dependent") { (s, d) =>
    Checkpoints(base(s, d).selectExpr("id * 2 AS id"))
  }
  // a held frame that is still a lazy plan over another memo's leaf
  private val lazyView = SharedBuilds.memo("spec_lazy") { (s, d) =>
    base(s, d).where("id % 2 = 0")
  }

  private def entry(name: String): SharedBuilds.Entry =
    SharedBuilds.all.find(_.name == name).get

  private def checkpointId(df: DataFrame): Int =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.id
      case p => fail(s"not a checkpoint leaf: $p")
    }

  private def stored(id: Int): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(_.id == id)

  test("a second lookup returns the same frame and starts no Spark job") {
    val s = spark.newSession()
    val first = base(s, dir)
    val n = baseBuilds.get()
    var second: DataFrame = null
    assert(TestSpark.jobsDuring { second = base(s, dir) } == 0)
    assert(second eq first)
    assert(baseBuilds.get() == n)
    // the probe itself does see jobs: a fresh build is one
    assert(TestSpark.jobsDuring(base(spark.newSession(), dir)) > 0)
  }

  test("after clear the next lookup rebuilds") {
    val s = spark.newSession()
    val first = base(s, dir)
    val n = baseBuilds.get()
    entry("spec_base").clear(s)
    val again = base(s, dir)
    assert(again ne first)
    assert(baseBuilds.get() == n + 1)
    assert(again.count() == 1000)
  }

  test("spark.newSession() gets frames of its own") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val f1 = base(s1, dir)
    val f2 = base(s2, dir)
    assert(f1 ne f2)
    assert(checkpointId(f1) != checkpointId(f2))
    entry("spec_base").clear(s1)
    assert(base(s2, dir) eq f2)
    assert(f2.count() == 1000) // s2's checkpoint blocks are intact
  }

  test("a builder may look up another memo inside its own build") {
    val s = spark.newSession()
    val d = dependent(s, dir)
    assert(d.agg(Map("id" -> "sum")).head().getLong(0) == 999L * 1000L)
    assert(dependent(s, dir) eq d)
  }

  test("clear unpersists the checkpoint it held, with no GC") {
    val s = spark.newSession()
    val df = base(s, dir)
    val view = lazyView(s, dir)
    val id = checkpointId(df)
    eventually(timeout(30.seconds), interval(50.millis)) {
      assert(stored(id))
    }
    // a held frame that is a lazy plan over another memo's leaf does
    // not own that leaf: base's leaf stays stored
    entry("spec_lazy").clear(s)
    assert(stored(id))
    assert(view.count() == 500)
    // `df` is still strongly reachable here, so only an explicit
    // unpersist can take the blocks away
    entry("spec_base").clear(s)
    assert(!stored(id))
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("a forced Brandes build stores only the leaves its value reads, " +
      "and clear frees them, with no GC") {
    SparkEntry.queries // forces every pack's registrations
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    def storedIds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    entry("copurchase_edges").force(s, sf)
    val before = storedIds
    entry("dist_brandes").force(s, sf)
    val added = eventually(timeout(30.seconds), interval(50.millis)) {
      val a = storedIds -- before
      assert(a.nonEmpty)
      a
    }
    // the value is (ds, the union of the per-level terms frames): q359
    // reads ds, q370 the terms union
    val leaves = Seq("q359_closeness", "q370_edge_betweenness").flatMap { q =>
      SparkEntry.queries(q)(s, sf).queryExecution.logical.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }
    }.toSet
    assert(added.subsetOf(leaves), s"stored $added, read $leaves")
    assert(added.size <= 4, s"ds + 3 terms levels, stored $added")
    entry("dist_brandes").clear(s)
    assert((storedIds intersect added).isEmpty)
    entry("copurchase_edges").clear(s)
  }

  test("SharedBuilds.all lists the seven builds in name order") {
    SparkEntry.queries // forces every pack's registrations
    val names = SharedBuilds.all.map(_.name)
    assert(names == names.sorted)
    assert(names.filterNot(_.startsWith("spec_")) == Seq(
      "bm25_run", "copurchase_edges", "dist_brandes", "dup_clusters",
      "lloyd_bundle", "tri_bundle", "unigram_train"))
  }
}
