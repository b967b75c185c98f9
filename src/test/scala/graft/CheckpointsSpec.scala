package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The materialization primitive and its lifetime rule
  * ([[Checkpoints]]). No test runs a GC: every frame a test asserts on
  * stays strongly reachable, so only an explicit unpersist can take its
  * blocks away, and storage is read from `getRDDStorageInfo`. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cp(n: Long): DataFrame = Checkpoints(spark.range(0, n).toDF("id"))

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.id
    case p => fail(s"not a checkpoint leaf: $p")
  }

  private def stored(df: DataFrame): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId(df))

  /** Stored now or once the listener bus has caught up; a released
    * frame leaves the persistent set synchronously. */
  private def assertStored(dfs: DataFrame*): Unit = dfs.foreach { df =>
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId(df)))
    eventually(timeout(30.seconds), interval(50.millis))(assert(stored(df)))
  }

  private def assertReleased(dfs: DataFrame*): Unit = dfs.foreach { df =>
    assert(!stored(df))
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId(df)))
  }

  test("a scope frees what its value does not read and keeps what it " +
      "reads: alone, under a union, inside a tuple") {
    var scratch: DataFrame = null
    val alone = Checkpoints.scoped { scratch = cp(10); cp(20) }
    assertStored(alone)
    assertReleased(scratch)

    var (l, r, s) = (null: DataFrame, null: DataFrame, null: DataFrame)
    val union = Checkpoints.scoped {
      l = cp(10); r = cp(20); s = cp(30)
      l.unionByName(r).where("id % 2 = 0")
    }
    assertStored(l, r)
    assertReleased(s)
    assert(union.count() == 15)

    var (a, b, c) = (null: DataFrame, null: DataFrame, null: DataFrame)
    val (x, ys) = Checkpoints.scoped {
      a = cp(10); b = cp(20); c = cp(30)
      (a, Seq(b.selectExpr("id * 2 AS id")))
    }
    assertStored(a, b)
    assertReleased(c)
    assert(x.count() == 10 && ys.head.count() == 20)
  }

  test("a nested scope passes its kept frames up, and the parent frees " +
      "them when its own value does not read them") {
    var (inner, innerScratch, outer) =
      (null: DataFrame, null: DataFrame, null: DataFrame)
    val out = Checkpoints.scoped {
      inner = Checkpoints.scoped { innerScratch = cp(10); cp(20) }
      assertStored(inner)
      assertReleased(innerScratch)
      outer = cp(30)
      outer
    }
    assert(out eq outer)
    assertStored(outer)
    assertReleased(inner)
  }

  test("a checkpoint made before the scope or on another thread is " +
      "never released by it") {
    val beforeAll = cp(10)
    var (beforeInner, onThread) = (null: DataFrame, null: DataFrame)
    Checkpoints.scoped {
      beforeInner = cp(20)
      Checkpoints.scoped {
        val t = new Thread(() => onThread = cp(30))
        t.start()
        t.join()
        cp(40)
        spark.range(1).toDF("id")
      }
      assertStored(beforeInner)
      spark.range(1).toDF("id")
    }
    assertStored(beforeAll, onThread)
    assertReleased(beforeInner)
  }

  test("a memo built inside a scope keeps its frames past the scope's " +
      "exit, until it is cleared") {
    val memo = SharedBuilds.memo("spec_checkpoints_memo") { (s, _) =>
      Checkpoints(s.range(0, 100).toDF("id"))
    }
    val s = spark.newSession()
    var built: DataFrame = null
    Checkpoints.scoped { built = memo(s, "dir"); spark.range(1).toDF("id") }
    assertStored(built)
    assert(memo(s, "dir") eq built)
    SharedBuilds.all.find(_.name == "spec_checkpoints_memo").get.clear(s)
    assertReleased(built)
  }

  test("a throwing body releases what it made, kept frames of its " +
      "nested scopes included, and rethrows") {
    var (made, fromChild) = (null: DataFrame, null: DataFrame)
    val e = intercept[IllegalStateException] {
      Checkpoints.scoped {
        fromChild = Checkpoints.scoped(cp(10))
        made = cp(20)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assertReleased(made, fromChild)
  }

  test("src/main materializes and releases frames only through " +
      "Checkpoints") {
    val calls = Seq("localCheckpoint(", "localCheckpointFreshStats",
      "localCheckpointPartitioned", "releaseCheckpoint")
    val allowed = Set("Checkpoints.scala", "GraftSqlShims.scala")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = for {
      p: Path <- sources if !allowed(p.getFileName.toString)
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      call <- calls if line.contains(call)
    } yield s"$p:${n + 1}: $call"
    assert(sources.size > 100, "the scan found no sources")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
