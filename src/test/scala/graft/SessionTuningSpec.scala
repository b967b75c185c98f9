package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.load.PartitionIO
import graft.mart.{CloseStats, IndicatorDay}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session setup every runner and the tests share
  * ([[SessionTuning]]) and what it buys: a generated-class cache that
  * holds a run's working set, so a plan that runs again reuses its
  * compiled classes. */
class SessionTuningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("writing both marts a second time compiles no generated class") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val out = TestSpark.tmp("codegen-cache")
    def round(): Unit = {
      PartitionIO.overwritePartitions(IndicatorDay(events),
        s"$out/indicator_day", Seq("year", "month"))
      PartitionIO.overwritePartitions(CloseStats(events)
          .withColumn("year", year(col("dt_end")).cast("int"))
          .withColumn("month", month(col("dt_end")).cast("int")),
        s"$out/close_stats", Seq("year", "month"))
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val before = compiles
    round()
    assert(compiles - before == 0,
      "classes of the first round were evicted and compiled again")
  }

  /** Every session builder call in the sources under `dir` whose
    * (file, scope) pair `allowed` does not hold. A builder's scope is
    * the innermost `test("...")` or def whose braced body is still open
    * at the builder (`None` allows a whole file). `minSources` guards
    * against a scan that silently finds nothing. */
  private def unsanctionedBuilders(dir: String, minSources: Int,
      allowed: Set[(String, Option[String])]): Seq[String] = {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val scope = """\btest\(\s*"([^"]*)"|\bdef\s+(\w+)""".r
    // whether the first brace block opened after `from` is open at `at`
    def holds(text: String, from: Int, at: Int): Boolean = {
      val open = text.indexOf('{', from)
      var depth = 0
      open >= 0 && open < at && text.substring(open, at).forall { ch =>
        if (ch == '{') depth += 1 else if (ch == '}') depth -= 1
        depth > 0
      }
    }
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > minSources, s"the scan found no sources in $dir")
    for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- builder.findAllMatchIn(text)
      before = text.take(m.start)
      enclosing = scope.findAllMatchIn(before).toSeq.reverse
        .find(sc => holds(text, sc.end, m.start))
        .map(sc => Option(sc.group(1)).getOrElse(sc.group(2)))
      file = p.getFileName.toString
      if !allowed(file -> None) && !allowed(file -> enclosing)
    } yield s"$p:${before.count(_ == '\n') + 1}: " +
      s"session builder in ${enclosing.getOrElse("no def")}"
  }

  test("src/main builds a session only through SessionTuning") {
    // `extensionSession` reuses the live context and sets no config
    val hits = unsanctionedBuilders("src/main/scala", 100, Set(
      "SessionTuning.scala" -> None,
      "LlmPack.scala" -> Some("extensionSession")))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/test builds a session only through SessionTuning") {
    // the two extension sessions reuse the live context and set no
    // config the plans depend on
    val hits = unsanctionedBuilders("src/test/scala", 50, Set(
      "DotProductSpec.scala" ->
        Some("GraftExtensions injects the round-5 functions into a new session"),
      "DotProductSpec.scala" -> Some("every function of the shared table " +
        "resolves via register and via GraftExtensions")))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
