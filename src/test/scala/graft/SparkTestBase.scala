package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for all Spark-backed suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `f` starts: listener-counted up to a marker job, which
    * the listener bus delivers after every earlier job start. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("test-spark-jobs-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError(
            "marker job never reached the listener")))
        .takeWhile(_ != "test-spark-jobs-marker").size
    } finally sc.removeSparkListener(listener)
  }

  /** The executed plan of every `localCheckpoint` action `f` runs, in
    * order: listener-collected up to a marker action, which the
    * listener bus delivers after every earlier query's `onSuccess`. */
  def checkpointPlansDuring(f: => Unit): Seq[SparkPlan] = {
    val marker = "test_checkpoint_plans_marker"
    val seen = new LinkedBlockingQueue[Option[SparkPlan]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") seen.put(Some(qe.executedPlan))
        else if (qe.analyzed.output.exists(_.name == marker)) seen.put(None)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).toDF(marker).collect()
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError(
            "marker query never reached the listener")))
        .takeWhile(_.nonEmpty).flatten.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
