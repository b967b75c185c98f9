package graft

import org.apache.spark.sql.SparkSession

/** The one session setup of the engine: every runner main (Bench,
  * Verify, Explain), perfbench and the test session build through here,
  * so the bench, the correctness dump, the plan dumps and the plan gates
  * of the tests always run under the same configuration. It is the
  * guide-§9 "reasonable starting configuration" subset that is justified
  * at both the local bench scale and the 100 TB production shape.
  *
  * What is set and why (spark_optimization_guide.md §3.1, §9):
  *
  *   - [[SessionTuning.PreferSortMergeJoin]] — lets the static planner
  *     pick a SHUFFLED HASH join when its size conditions hold (one
  *     side's per-partition build fits memory).
  *   - [[SessionTuning.ShuffledHashJoinLocalMapThreshold]] — AQE's
  *     runtime SMJ→SHJ rewrite bound.
  *   - [[SessionTuning.CodegenCacheEntries]] — the generated-class
  *     cache holds a run's working set.
  *
  * The join settings change ONLY physical join strategy — never
  * results. All three are constants: no runner or deployment in the
  * repository has needed another value. The one environment variable
  * read here is the SPARK_GRAFT_EVENTLOG measurement hook.
  */
object SessionTuning {
  /** `spark.sql.join.preferSortMergeJoin`. The suite's mid-size joins
    * (gram-keyed candidate joins, label joins against node frames)
    * otherwise all plan as sort-merge: both sides pay a full sort for
    * joins whose smaller side hashes comfortably. The planner's own
    * `canBuildLocalHashMap` guard (side < autoBroadcastJoinThreshold ×
    * shuffle partitions) still applies, so giant×giant joins stay
    * sort-merge — this is a preference flip, not a force. Measured
    * better than Spark's default `true` on the 12 join-heaviest entries
    * (OPTIMIZATION_r17.md: 91.5 s against 102.7 s at local[32]) and the
    * guide's production baseline. */
  val PreferSortMergeJoin = false

  /** `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`: AQE's
    * runtime SMJ→SHJ rewrite bound (Spark's default 0 = off). Set to
    * the advisory partition size, so any post-shuffle partition AQE
    * would accept as one task can also skip its sort. */
  val ShuffledHashJoinLocalMapThreshold = "64m"

  /** `spark.sql.codegen.cache.maxEntries`: how many compiled
    * whole-stage-codegen classes Spark keeps in its JVM-wide cache.
    * Spark's default of 100 is smaller than any working set of this
    * engine, so a plan that runs again (a daily refresh, a bench pass,
    * a micro-batch) recompiles every class evicted since it last ran.
    * Measured working sets (distinct generated classes, local[4]): 174
    * for a perfbench `warehouse_batch` run, 172 for a `query_slice` run
    * and 6 007 for one pass over the whole registry at sf0.01, which
    * compiled 10 308 times at the default. 8192 is the next power of
    * two above a full registry pass. The cost is metaspace, about 8 KB per held class:
    * after a full GC at the end of the sf0.01 registry pass, 199 MB at
    * the default and 246 MB with every class held. The conf is
    * static: Spark reads it when the JVM first compiles, so it takes
    * effect only on a session built before the first query, which is
    * why every runner builds through here. Only the reuse of compiled
    * classes changes, never a result. */
  val CodegenCacheEntries = 8192

  /** The session every runner main and the tests build: master
    * `local[cpus]` (`local[*]` accepted), the given shuffle-partition
    * count (`*` = the host's cores), the shared UTC / no-UI /
    * nanos-as-long / AQE configs, [[apply]]'s tuning, and the log
    * level. */
  def local(cpus: String, shufflePartitions: String,
      logLevel: String): SparkSession = {
    val parts =
      if (shufflePartitions != "*") shufflePartitions
      else Runtime.getRuntime.availableProcessors.toString
    val spark = apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val tuned = b
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.join.preferSortMergeJoin", PreferSortMergeJoin)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        ShuffledHashJoinLocalMapThreshold)
    // measurement hook (guide §1/§7): SPARK_GRAFT_EVENTLOG=<dir>
    // enables the standard Spark event log so a profiling run's
    // per-job/stage timings can be attributed offline; unset (the
    // driver's shape) writes nothing
    sys.env.get("SPARK_GRAFT_EVENTLOG") match {
      case Some(dir) =>
        tuned.config("spark.eventLog.enabled", "true")
          .config("spark.eventLog.dir", dir)
      case None => tuned
    }
  }
}
