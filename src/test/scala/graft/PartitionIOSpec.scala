package graft

import graft.load.PartitionIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Idempotency and isolation of the dynamic-partition overwrite path
  * (the reference's DELETE+INSERT trailing-window reload, S8-S10).
  */
class PartitionIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.tmp

  private def mkRows(days: Seq[Int], tag: String) = {
    import spark.implicits._
    days.flatMap(d => Seq((1L, f"2024-01-$d%02d", tag, 1.0)))
      .toDF("id", "dts", "tag", "v")
      .withColumn("dt", to_date(col("dts"))).drop("dts")
  }

  test("reload overwrites only the window partitions; re-run converges") {
    val path = tmp("partio")
    // Base load: days 1..20 tagged 'base'.
    PartitionIO.overwritePartitions(
      PartitionIO.withDayPartitions(mkRows(1 to 20, "base"), "dt"),
      path, Seq("year", "month", "day"))
    // Reload days 11..20 tagged 'fresh' — twice (retry semantics).
    val fresh = mkRows(11 to 20, "fresh")
    PartitionIO.reloadTrailingWindow(fresh, path, "dt", 9, "2024-01-20")
    PartitionIO.reloadTrailingWindow(fresh, path, "dt", 9, "2024-01-20")
    val out = spark.read.parquet(path)
    assert(out.count() == 20)                     // no duplication
    assert(out.where(col("tag") === "base").count() == 10)  // untouched
    assert(out.where(col("tag") === "fresh").count() == 10) // replaced
    assert(out.where(col("day") <= 10 && col("tag") =!= "base").count() == 0)
  }

  private def mkHourRows(hours: Seq[Int], tag: String) = {
    import spark.implicits._
    hours.flatMap(h => Seq((1L, f"2024-01-15 $h%02d:30:00", tag, 1.0)))
      .toDF("id", "tss", "tag", "v")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
  }

  test("hour-grain reload overwrites only the window; re-run converges") {
    val path = tmp("partio")
    PartitionIO.overwritePartitions(
      PartitionIO.withHourPartitions(mkHourRows(0 to 19, "base"), "ts"),
      path, Seq("year", "month", "day", "hour"))
    // Reload the trailing 10 hour-buckets (10..19) tagged 'fresh', twice.
    val fresh = mkHourRows(10 to 19, "fresh")
    PartitionIO.reloadTrailingHours(fresh, path, "ts", 9, "2024-01-15 19:45:00")
    PartitionIO.reloadTrailingHours(fresh, path, "ts", 9, "2024-01-15 19:45:00")
    val out = spark.read.parquet(path)
    assert(out.count() == 20)
    assert(out.where(col("tag") === "base").count() == 10)
    assert(out.where(col("tag") === "fresh").count() == 10)
    assert(out.where(col("hour") <= 9 && col("tag") =!= "base").count() == 0)
    assert(out.select("year", "month", "day", "hour").distinct().count() == 20)
  }

  test("ORC format option: partitioned roundtrip preserves rows and types") {
    val path = tmp("partio")
    PartitionIO.overwritePartitions(
      PartitionIO.withDayPartitions(mkRows(1 to 5, "a"), "dt"),
      path, Seq("year", "month", "day"), format = "orc")
    PartitionIO.overwritePartitions(
      PartitionIO.withDayPartitions(mkRows(3 to 3, "b"), "dt"),
      path, Seq("year", "month", "day"), format = "orc")
    val out = spark.read.orc(path)
    assert(out.count() == 5)          // dynamic overwrite semantics hold
    assert(out.where(col("tag") === "b").select("day")
      .collect().map(_.getInt(0)).toSeq == Seq(3))
    val expected = PartitionIO.withDayPartitions(mkRows(1 to 5, "a"), "dt")
    assert(out.schema.fields.map(f => f.name -> f.dataType).toMap ==
      expected.schema.fields.map(f => f.name -> f.dataType).toMap)
  }

  test("append_new_columns: widens without rewrite, never drops, " +
      "rejects type flips") {
    val path = tmp("partio")
    // v1 era: (id, dt, tag, v) over days 1..10
    PartitionIO.appendNewColumns(
      PartitionIO.withDayPartitions(mkRows(1 to 10, "v1"), "dt"),
      path, Seq("year", "month", "day"))
    // v2 era: NEW column 'score', LOST column 'v' — written twice
    val v2 = PartitionIO.withDayPartitions(
      mkRows(11 to 15, "v2").drop("v").withColumn("score", lit(7L)), "dt")
    PartitionIO.appendNewColumns(v2, path, Seq("year", "month", "day"))
    PartitionIO.appendNewColumns(v2, path, Seq("year", "month", "day"))
    val out = PartitionIO.readEvolved(spark, path)
    assert(out.count() == 15) // idempotent under the retry
    // v1 files were not rewritten: score reads back NULL there…
    assert(out.where(col("tag") === "v1" && col("score").isNull)
      .count() == 10)
    // …and v is preserved as typed NULL for the v2 era
    assert(out.where(col("tag") === "v2" && col("v").isNull).count() == 5)
    assert(out.where(col("tag") === "v2" && col("score") === 7L)
      .count() == 5)
    assert(out.schema("v").dataType.simpleString == "double")
    assert(out.schema("score").dataType.simpleString == "bigint")
    // a type flip on an existing column is refused loudly
    val flipped = PartitionIO.withDayPartitions(
      mkRows(16 to 16, "v3").withColumn("v", lit("oops")), "dt")
    val e = intercept[IllegalArgumentException] {
      PartitionIO.appendNewColumns(flipped, path,
        Seq("year", "month", "day"))
    }
    assert(e.getMessage.contains("type flip"))
  }

  test("overwrite leaves partitions absent from the update untouched") {
    val path = tmp("partio")
    PartitionIO.overwritePartitions(
      PartitionIO.withDayPartitions(mkRows(1 to 5, "a"), "dt"),
      path, Seq("year", "month", "day"))
    PartitionIO.overwritePartitions(
      PartitionIO.withDayPartitions(mkRows(3 to 3, "b"), "dt"),
      path, Seq("year", "month", "day"))
    val out = spark.read.parquet(path)
    assert(out.count() == 5)
    assert(out.where(col("tag") === "b").select("day")
      .collect().map(_.getInt(0)).toSeq == Seq(3))
  }
}
