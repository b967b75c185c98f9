package graft

import org.apache.spark.sql.SparkSession

/** Shared session tuning for every runner main (Bench / Verify /
  * Explain / ScaleSmoke) — the guide-§9 "reasonable starting
  * configuration" subset that is justified at BOTH the local bench
  * scale and the 100 TB production shape, applied in one place so the
  * bench, the correctness dump and the plan dumps always agree.
  *
  * What is set and why (spark_optimization_guide.md §3.1, §9):
  *
  *   - `spark.sql.join.preferSortMergeJoin=false` — lets the static
  *     planner pick a SHUFFLED HASH join when its size conditions hold
  *     (one side's per-partition build fits memory). The suite's
  *     mid-size joins (gram-keyed candidate joins, label joins against
  *     node frames) otherwise all plan as sort-merge: both sides pay a
  *     full sort for joins whose smaller side hashes comfortably. The
  *     planner's own `canBuildLocalHashMap` guard (side <
  *     autoBroadcastJoinThreshold × shuffle partitions) still applies,
  *     so giant×giant joins stay sort-merge — this is a preference
  *     flip, not a force.
  *   - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold` —
  *     AQE's runtime SMJ→SHJ rewrite bound (default 0 = off). Set to
  *     the advisory partition size so any post-shuffle partition AQE
  *     would accept as one task can also skip its sort. Env-overridable
  *     for production sizing (bigger executors → bigger bound).
  *
  * Both settings change ONLY physical join strategy — never results.
  * They are parameterized (SPARK_GRAFT_PREFER_SMJ /
  * SPARK_GRAFT_SHJ_THRESHOLD) so the driver's lower-core-count runs
  * and a production deployment can size them independently; the
  * defaults below are the measured-best local values AND the guide's
  * recommended production baseline.
  *
  * One more setting is a constant, not a knob: the generated-class
  * cache holds [[SessionTuning.CodegenCacheEntries]] classes (see there).
  */
object SessionTuning {
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

  /** The session every runner main builds: master `local[cpus]`
    * (`local[*]` accepted), the given shuffle-partition count (`*` =
    * the host's cores), the shared UTC / no-UI / nanos-as-long / AQE
    * configs, [[apply]]'s join tuning, and the log level. */
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
    val preferSmj =
      sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false")
    val shjThreshold =
      sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m")
    val tuned = b
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.join.preferSortMergeJoin", preferSmj)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        shjThreshold)
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
