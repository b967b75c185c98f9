package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge into the `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 split the public `Column` API from Catalyst `Expression`s
  * (Spark Connect); third-party Catalyst extensions (our native
  * indicator aggregates, graft.functions) still need the classic hop,
  * which lives behind `private[sql]` in
  * `org.apache.spark.sql.classic.ExpressionUtils`. This shim is the
  * standard extension-library pattern for reaching it.
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager local checkpoint WITH A STATISTICS RESET — the iterative-
    * operator fix for SPARK-level exponential stats compounding:
    * `Dataset.localCheckpoint` truncates the LINEAGE but (since the
    * LogicalRDD originStats change) PRESERVES the original plan's
    * estimated statistics. In a loop of join-dense rounds the
    * size-in-bytes estimate — a PRODUCT over join children — then
    * compounds exponentially across rounds: measured on the two-level
    * Louvain contraction, the estimate reached a 116k-BIT BigInt at
    * the contracted edge frame and 77M bits two rounds later, at
    * which point the DRIVER spends tens of seconds per plan in
    * BigInteger Toom-Cook multiplications (545 s for a 34k-edge
    * level-2 graph). Rebuilding the frame from the checkpointed
    * InternalRow RDD drops originStats (fresh LogicalRDD, measured
    * leaf size) with ZERO data copies — the rows pass through
    * untouched. The engine reaches it only through [[graft.Checkpoints]],
    * which also owns when the checkpoint is released.
    */
  def localCheckpointFreshStats(df: DataFrame): DataFrame =
    freshLeaf(df, keepHashPartitioning = false)

  /** [[localCheckpointFreshStats]] whose leaf also keeps the HASH
    * PARTITIONING the rows really have. Under AQE `localCheckpoint`
    * records `UnknownPartitioning` (the adaptive plan's layout is only
    * known after it ran), so every join or aggregate over the
    * checkpoint on the same key would shuffle it again. After the
    * eager run the final adaptive plan is known; its
    * `HashPartitioning` is carried into the leaf when it is truthful:
    * its partition count equals the checkpointed RDD's and its
    * expressions read only the frame's own columns. A coalesced AQE
    * read (`CoalescedHashPartitioning`: several hash buckets merged
    * into one partition) or any other layout stays unknown, because a
    * planner that co-partitions another side by `hash mod n` would
    * pair the wrong rows with it.
    *
    * Not the default: a scan that reports a partitioning canonicalizes
    * with its attribute ids, so two references to the same checkpoint
    * inside one plan (a self-join) no longer share an exchange. HITS's
    * pivot subquery relies on that reuse: with the partitioning kept
    * everywhere, q256 took 15.1 s instead of 8.1 s (sf0.1, local[4] on
    * a 4-core x86 box).
    */
  def localCheckpointPartitioned(df: DataFrame): DataFrame =
    freshLeaf(df, keepHashPartitioning = true)

  private def freshLeaf(df: DataFrame,
      keepHashPartitioning: Boolean): DataFrame = {
    val cp = df.localCheckpoint(true)
    val spark = cp.sparkSession.asInstanceOf[classic.SparkSession]
    cp.queryExecution.optimizedPlan match {
      case lr: execution.LogicalRDD =>
        // TRUTHFUL stats, not merely absent ones: a bare reset leaves
        // the leaf at defaultSizeInBytes (never broadcastable), which
        // measured ~25% slower per iterative query at sf0.1 — the
        // static planner stopped broadcasting the per-round label/
        // degree frames. The block manager already knows the EXACT
        // materialized size of the just-checkpointed RDD (UnsafeRow
        // blocks — no extra job, no estimation), so attach that.
        val measured = spark.sparkContext
          .getRDDStorageInfo(_.id == lr.rdd.id).headOption
          .map(i => BigInt(i.memSize + i.diskSize))
          .filter(_ > 0)
        val stats = catalyst.plans.logical.Statistics(
          sizeInBytes = measured.getOrElse(
            BigInt(spark.sessionState.conf.defaultSizeInBytes)))
        classic.Dataset.ofRows(spark, execution.LogicalRDD(
          lr.output, lr.rdd,
          if (keepHashPartitioning) finalPartitioning(df, lr)
          else lr.outputPartitioning,
          lr.outputOrdering,
          lr.isStreaming, lr.stream)(spark, Some(stats), None))
      case _ => // non-LogicalRDD plan (never in practice): plain reset
        spark.internalCreateDataFrame(
          cp.queryExecution.toRdd, df.schema, isStreaming = false)
    }
  }

  /** The checkpointed leaf's partitioning: the one `localCheckpoint`
    * recorded, unless that is unknown and the final adaptive plan of
    * the run that filled the RDD reports a truthful `HashPartitioning`
    * (see [[localCheckpointPartitioned]]). */
  private def finalPartitioning(df: DataFrame,
      lr: execution.LogicalRDD): Partitioning = {
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if a.isFinalPlan &&
          !lr.outputPartitioning.isInstanceOf[HashPartitioning] =>
        firstLeaf(a.executedPlan.outputPartitioning) match {
          case h: HashPartitioning
              if h.numPartitions == lr.rdd.getNumPartitions &&
                h.references.subsetOf(AttributeSet(lr.output)) => h
          case _ => lr.outputPartitioning
        }
      case _ => lr.outputPartitioning
    }
  }
}
