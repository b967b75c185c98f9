package graft

import graft.mart.{IndicatorDay, MartConfig}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mart-level invariants over the sf0.001 fixture (read-only). */
class IndicatorDaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val events =
    Tables.load(spark, "/root/testdata/sf0.001", "events")
  private lazy val hourly = IndicatorDay.hourly(events).cache()

  test("Bollinger ordering: lower <= sma <= upper wherever defined") {
    val bad = hourly
      .where(col("bollinger_bands_sma").isNotNull &&
        (col("bollinger_bands_lower_band") > col("bollinger_bands_sma") ||
         col("bollinger_bands_sma") > col("bollinger_bands_upper_band")))
      .count()
    assert(bad == 0)
  }

  test("stoch %K and %D within [0, 100] wherever defined") {
    val bad = hourly.where(
      (col("stoch_signal") < 0 || col("stoch_signal") > 100) ||
      (col("stoch_oscillator") < 0 || col("stoch_oscillator") > 100)).count()
    assert(bad == 0)
  }

  test("aroon up/down within [0, 100]; oscillator within [-100, 100]") {
    val bad = hourly.where(
      col("aroon_up") < 0 || col("aroon_up") > 100 ||
      col("aroon_down") < 0 || col("aroon_down") > 100 ||
      col("aroon_oscillator") < -100 || col("aroon_oscillator") > 100).count()
    assert(bad == 0)
  }

  test("OBV telescoping: per-symbol step is +/-volume or 0") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("t")
    // obv is zero-coerced to NULL at the edge; undo that with coalesce.
    val o = coalesce(col("obv").cast("double"), lit(0.0))
    val bad = hourly
      .select(col("id"), col("t"), col("volume").cast("double").as("v"),
        o.as("o"), lag(o, 1).over(w).as("po"))
      .where(col("po").isNotNull)
      .where(abs(col("o") - col("po")) =!= col("v") &&
             abs(col("o") - col("po")) =!= 0.0)
      .count()
    assert(bad == 0)
  }

  test("mart uniqueness: one row per (id, dt), A7 invariant") {
    val mart = IndicatorDay(events)
    val dup = mart.groupBy("id", "dt").count().where(col("count") > 1).count()
    assert(dup == 0)
  }

  test("N_multiple: exceptional symbol scaled, others not") {
    val mart = IndicatorDay(events)
    val vals = mart.select(col("id"), col("n_multiple")).distinct()
      .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    vals.foreach { case (id, nm) =>
      if (MartConfig.crypto.exceptionalIds.contains(id)) assert(nm == 1000.0f)
      else assert(nm == 1.0f)
    }
  }

  test("config-driven multi-asset: crypto mapping == default path; " +
      "forex mapping never scales") {
    val bars = graft.ts.Bars.hourly(events)
    // crypto-style source: volume arrives as `amount` — the configured
    // run must equal the hard-wired hourly path column-for-column
    val viaCfg = IndicatorDay.hourlyConfigured(MartConfig.crypto)(
      bars.withColumnRenamed("volume", "amount")).drop("market")
    val direct = hourly.select(viaCfg.columns.map(col).toIndexedSeq: _*)
    assert(viaCfg.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaCfg).isEmpty)
    // forex mapping: no exceptional path — n_multiple is 1 everywhere,
    // including for the crypto-exceptional id
    val forex = IndicatorDay.hourlyConfigured(MartConfig.forex)(bars)
    assert(forex.where(col("n_multiple") =!= 1.0).count() == 0)
    assert(forex.where(col("id")
      .isin(MartConfig.crypto.exceptionalIds: _*)).count() > 0)
  }

  test("zero -> NULL reference edge: first OBV row per symbol is NULL") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("t")
    val firsts = hourly
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    assert(firsts.where(col("obv").isNotNull).count() == 0)
  }

  test("incremental refresh: emitted window equals the full recompute") {
    // fixture prefixes (~30-55 bars/id) sit below tailBars, so this
    // covers the tail-is-whole-prefix path AND mid-warm-up seeding
    // (ids whose EMA30/RSI counts are still inside warm-up at the cut)
    val fromT = 1705708800L // 2024-01-20
    val full = IndicatorDay.hourly(events).where(col("t") >= fromT)
    val inc = IndicatorDay.hourlyIncremental(events, fromT)
    assert(inc.columns.toSeq == full.columns.toSeq)
    val a = full.orderBy("id", "t").collect()
    val b = inc.orderBy("id", "t").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("incremental refresh: long history exercises the row-offset path") {
    import spark.implicits._
    // 200 bars/id >> tailBars = 77: seeds summarize 83 rows the input
    // never carries, so absolute row numbers need the _rn_off shift
    // and every recursive aggregate continues from mid-stream state.
    // id 7 runs the exceptional x1000 scaling path. Integer volumes
    // keep the seeded OBV sum bit-exact (double int sums are exact).
    val rnd = new scala.util.Random(11)
    val bars = (for { id <- Seq(1L, 7L); i <- 0 until 200 } yield {
      val c = 50.0 + 10 * math.sin(i / 7.0) + rnd.nextDouble()
      (id, 3600L * i, c - 0.5, c + 1.0, c - 1.0, c,
        (1 + rnd.nextInt(50)).toDouble)
    }).toDF("id", "tkey", "open", "high", "low", "close", "volume")
    val fromT = 3600L * 160
    val full = IndicatorDay.indicators(bars).where(col("tkey") >= fromT)
    val inc = IndicatorDay.incrementalFrom(bars, lit(fromT))
      .where(col("_live")).drop("_live")
    assert(inc.columns.toSeq == full.columns.toSeq)
    val a = full.orderBy("id", "tkey").collect()
    val b = inc.orderBy("id", "tkey").collect()
    assert(a.length == b.length && a.length == 80)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("incremental refresh: chikou back-fill re-emits completed pre-cut rows") {
    // chikou looks 26 bars FORWARD, so post-cut bars complete the
    // chikou of the last 26 pre-cut rows; backfillBars = 26 widens the
    // emit window to cover them, still bit-equal to the full recompute
    val fromT = 1705708800L
    val inc = IndicatorDay.hourlyIncremental(events, fromT,
      backfillBars = 26)
    val full = IndicatorDay.hourly(events)
      .where(col("t") >= fromT - 26 * 3600L)
    val a = full.orderBy("id", "t").collect()
    val b = inc.orderBy("id", "t").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // the back-filled pre-cut rows really carry DEFINED chikou values
    // that depend on post-cut bars
    val backfilled = inc.where(col("t") < fromT &&
      col("ichimoku_chikou_span").isNotNull)
    assert(backfilled.count() > 0)
  }

  test("incremental refresh: symbol first seen AFTER the cut starts fresh") {
    import spark.implicits._
    // id 1 has full history; id 9 has NO bars before the cut — its
    // state row is absent (left join NULL), tail empty, and every
    // warm-up guard must behave as a fresh series
    val rnd = new scala.util.Random(23)
    val bars = ((for (i <- 0 until 120) yield
        (1L, 3600L * i, 50.0 + rnd.nextDouble())) ++
      (for (i <- 100 until 120) yield
        (9L, 3600L * i, 20.0 + rnd.nextDouble())))
      .map { case (id, t, c) =>
        (id, t, c - 0.5, c + 1.0, c - 1.0, c, 3.0) }
      .toDF("id", "tkey", "open", "high", "low", "close", "volume")
    val fromT = 3600L * 100
    val full = IndicatorDay.indicators(bars).where(col("tkey") >= fromT)
    val inc = IndicatorDay.incrementalFrom(bars, lit(fromT))
      .where(col("_live")).drop("_live")
    val a = full.orderBy("id", "tkey").collect()
    val b = inc.orderBy("id", "tkey").collect()
    assert(a.length == b.length && a.length == 40)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("incremental refresh: persisted state sidecar round-trips exactly") {
    // the production form: snapshot written to parquet by one run,
    // read back by the next — struct state columns must survive the
    // round-trip bit-for-bit
    val fromT = 1705708800L
    val bars = graft.ts.Bars.hourly(events).withColumn("tkey", col("t"))
    val snap = IndicatorDay.stateSnapshot(bars.where(col("tkey") < fromT))
    val dir = TestSpark.tmp("mart-state")
    snap.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val viaDisk = IndicatorDay.incrementalFrom(bars, loaded, lit(fromT),
        carry = Seq("t"), tailBars = 77)
      .where(col("_live"))
    val derived = IndicatorDay.incrementalFrom(bars, lit(fromT),
        carry = Seq("t"))
      .where(col("_live"))
    val a = derived.orderBy("id", "tkey").collect()
    val b = viaDisk.orderBy("id", "tkey").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }
}
