package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a JSON string literal: backslash, quote and every control
    * char (< 0x20) escaped — a tab or CR in builder-authored SQL, or a
    * quote in a directory name, would otherwise make the reader's
    * json.load fail on the whole artifact. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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
      // the scope frees, on return, every checkpoint the entry's frame
      // reads (its own scope hands them to its caller)
      try Checkpoints.scoped {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
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
      "sf_dir" -> jsonString(sfDir),
      "n_queries" -> SparkEntry.queries.size.toString,
      "git_head" -> jsonString(head),
      "jvm" -> jsonString(System.getProperty("java.version")),
      "host" -> jsonString(java.net.InetAddress.getLocalHost.getHostName))
    Files.writeString(Paths.get(s"$outDir/run_meta.json"),
      meta.map { case (k, v) => s"${jsonString(k)}: $v" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
