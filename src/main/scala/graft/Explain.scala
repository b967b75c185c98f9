package graft

/** Diagnostic: print the formatted physical plan of named queries
  * (all when no names given). Usage:
  *   runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = SessionTuning.local("4", "4", "ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        println(s"\n===== $name =====")
        try Checkpoints.scoped(fn(spark, sfDir).explain("formatted"))
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    }
    spark.stop()
  }
}
