package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.SessionTuning
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, sum, xxhash64}

final case class Check(name: String, ok: Boolean, detail: String = "")

object Check {
  /** Multiset fingerprint of a frame's rows: count, and the sum and the
    * xor of every row's 64-bit hash. */
  def fingerprint(df: DataFrame): String =
    df.select(xxhash64(struct(col("*"))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
        expr("bit_xor(h)")).head().toSeq.mkString("/")

  /** Row multiset equality of two frames with the same columns, by
    * fingerprint. */
  def sameRows(name: String, got: DataFrame, want: DataFrame): Check = {
    val (g, w) = (fingerprint(got), fingerprint(want))
    Check(name, g == w, s"fingerprint $g vs $w")
  }
}

/** A registry entry's DuckDB oracle: `got` is the parquet output to
  * compare (empty when the caller already holds a verified hash),
  * `views` the tables (as DuckDB SQL) the oracle reads. */
final case class Oracle(name: String, sql: String, got: String,
    views: Map[String, String], hash: Long = 0L)

final case class Outcome(setupS: Double, e2e: Map[String, Double],
    named: Map[String, Double], checks: Seq[Check], oracles: Seq[Oracle],
    attempted: Long, overheadFrac: Option[Double],
    extra: Map[String, Double] = Map.empty)

/** What a workload needs from the runner: the session, the tracer,
  * its private work directory and the run's parameters. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
    val fixtures: String, val seed: Long, val seconds: Int, val cores: Int,
    val sessionS: Double, val verified: Map[String, Long]) {

  def time(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def deadline(): Long = System.nanoTime() + seconds * 1000000000L

  /** Set-up time: session start plus the median of three repetitions
    * of input generation and warm-up. Each repetition starts clean and
    * the last one's inputs are the ones measured. */
  def setupReps(body: Int => Unit): Double = {
    val reps = (0 until 3).map { r =>
      if (r > 0) Inputs.rmrf(new File(s"$work/gen${r - 1}"))
      val s = time(body(r))
      Log(f"setup rep $r: $s%.2fs")
      s
    }
    sessionS + Stats.median(reps)
  }

  /** Runs a write and bills the files it created under `path` to the
    * open span. */
  def diskWrites(path: String)(body: => Unit): Unit =
    if (!tracer.active) body
    else {
      val before = Main.files(new File(path)).toSet
      body
      val added = Main.files(new File(path)).filterNot(before.contains)
        .filter(_.getName.endsWith(".parquet"))
      tracer.note("files_written", added.size)
      tracer.note("partitions_written", added.map(_.getParent).distinct.size)
      tracer.note("bytes_written", added.map(_.length).sum.toDouble)
    }
}

/** Progress lines on stderr (kept in the run's log). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2fs] $msg")
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Benchmark main: one workload in one JVM with Spark `local[k]`,
  * k = min(4, cores). Writes its measurements and check results as one
  * JSON object to `--out`; the launcher adds the process's peak memory
  * and the DuckDB oracle checks and prints the final line.
  */
object Main {
  def files(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val verified = opt.get("verified").filter(new File(_).exists).map { p =>
      val Line = "([^\\t]+)\\t(-?\\d+)".r
      new String(Files.readAllBytes(new File(p).toPath), StandardCharsets.UTF_8)
        .split("\n").toSeq.collect { case Line(n, h) => n -> h.toLong }.toMap
    }.getOrElse(Map.empty)

    val t0 = System.nanoTime()
    val spark = SessionTuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, work, opt("fixtures"), opt("seed").toLong,
      opt("seconds").toInt, cores, sessionS, verified)

    val gc0 = Gc.seconds
    val w0 = System.nanoTime()
    val out = workload match {
      case "warehouse_batch" => Warehouse.run(ctx)
      case "query_slice" => QuerySlice.run(ctx)
    }
    val wallS = (System.nanoTime() - w0) / 1e9
    val gcS = Gc.seconds - gc0
    tracer.close()

    val metrics =
      if (trace) Layers.all(ctx, out, gcS, wallS)
      else out.e2e + ("setup_s" -> out.setupS)
    val oracles = out.oracles.map(o => Json.obj(Seq(
      "name" -> Json.str(o.name), "sql" -> Json.str(o.sql),
      "got" -> Json.str(o.got), "hash" -> o.hash.toString,
      "views" -> Json.obj(o.views.map { case (k, v) => k -> Json.str(v) }))))
    val checks = out.checks.map(c => Json.obj(Seq(
      "name" -> Json.str(c.name), "ok" -> c.ok.toString,
      "detail" -> Json.str(c.detail))))
    val fields = Seq(
      "workload" -> Json.str(workload),
      "metrics" -> Json.nums(metrics),
      "named" -> Json.nums(out.named),
      "attempted" -> out.attempted.toString,
      "checks" -> Json.arr(checks),
      "oracles" -> Json.arr(oracles)) ++
      (if (trace) Seq("trace" -> Layers.artifact(ctx, out)) else Nil)
    Files.write(new File(opt("out")).toPath,
      Json.obj(fields).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
