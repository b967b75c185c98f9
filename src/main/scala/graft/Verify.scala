package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: only dump these queries (local iteration);
    // the driver always calls with exactly two args → full dump
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionTuning.local(cpus, cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Run-metadata stamp (r11 advice): a byte-identical correctness
    // artifact cannot distinguish a genuine re-run from a copy; this
    // sidecar makes each dump independently attributable to an actual
    // replay (timestamp, JVM, host, query count, git head if present).
    val head = try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0) out else "unknown"
    } catch { case _: Throwable => "unknown" }
    val meta = Seq(
      "ts_epoch_ms" -> System.currentTimeMillis.toString,
      "sf_dir" -> q(sfDir),
      "n_queries" -> SparkEntry.queries.size.toString,
      "git_head" -> q(head),
      "jvm" -> q(System.getProperty("java.version")),
      "host" -> q(java.net.InetAddress.getLocalHost.getHostName))
    Files.writeString(Paths.get(s"$outDir/run_meta.json"),
      meta.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
