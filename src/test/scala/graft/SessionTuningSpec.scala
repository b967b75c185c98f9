package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.load.PartitionIO
import graft.mart.{CloseStats, IndicatorDay}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one session setup every runner shares ([[SessionTuning]]) and
  * what it buys: a generated-class cache that holds a run's working set,
  * so a plan that runs again reuses its compiled classes. */
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

  test("src/main builds a session only through SessionTuning") {
    // `extensionSession` reuses the live context and sets no config
    val allowed = Set("SessionTuning.scala" -> None,
      "LlmPack.scala" -> Some("extensionSession"))
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val defName = """\bdef\s+(\w+)""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 100, "the scan found no sources")
    val hits = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- builder.findAllMatchIn(text)
      enclosing = defName.findAllMatchIn(text.take(m.start))
        .map(_.group(1)).toSeq.lastOption
      file = p.getFileName.toString
      if !allowed(file -> None) && !allowed(file -> enclosing)
    } yield s"$p:${text.take(m.start).count(_ == '\n') + 1}: " +
      s"SparkSession.builder in ${enclosing.getOrElse("no def")}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
