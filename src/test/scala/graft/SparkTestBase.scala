package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.StreamConverters._
import scala.util.Using
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.storage.RDDBlockId
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

  private val tmpDirs = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(tmpDirs.forEach { d =>
    // children before parents: the walk lists a directory before its
    // entries
    Using(Files.walk(d))(_.toScala(List).reverse.foreach(Files.deleteIfExists))
  })

  /** A new temporary directory, deleted with everything under it when
    * the test JVM exits. */
  def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
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

  /** The most RDDs that `f` holds in storage at one time, counting only
    * the RDDs it stores: block updates add an RDD, unpersists drop it,
    * listener-read up to a marker job, which the listener bus delivers
    * after every earlier event. */
  def peakStoredDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "test-spark-storage-marker"
    val reached = new CountDownLatch(1)
    val peak = new AtomicInteger(0)
    val listener = new SparkListener {
      // touched only on the listener bus thread
      private val stored = collection.mutable.Set.empty[Int]
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(id, _) if e.blockUpdatedInfo.storageLevel.isValid =>
            stored += id
            peak.accumulateAndGet(stored.size, _ max _)
          case _ =>
        }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        stored -= e.rddId
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker))
          reached.countDown()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(reached.await(60, TimeUnit.SECONDS),
        "marker job never reached the listener")
      peak.get
    } finally sc.removeSparkListener(listener)
  }

  /** The executed plan of every `localCheckpoint` action `f` runs on
    * `session`, in order: listener-collected up to a marker action,
    * which the listener bus delivers after every earlier query's
    * `onSuccess`. */
  def checkpointPlansDuring(f: => Unit,
      session: SparkSession = spark): Seq[SparkPlan] = {
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
    session.listenerManager.register(listener)
    try {
      f
      session.range(1).toDF(marker).collect()
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
          .getOrElse(throw new AssertionError(
            "marker query never reached the listener")))
        .takeWhile(_.nonEmpty).flatten.toSeq
    } finally session.listenerManager.unregister(listener)
  }
}
