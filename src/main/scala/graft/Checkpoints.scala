package graft

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShims}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way the engine materializes a frame, and the one rule for
  * when a materialization is freed.
  *
  * [[apply]] is an eager local checkpoint whose leaf carries the
  * measured size of its blocks as its statistics
  * ([[GraftSqlShims.localCheckpointFreshStats]]): the lineage is cut,
  * and no plan estimate is carried across the cut to compound over
  * iterations.
  *
  * The lifetime rule: [[scoped]] opens a scope on the calling thread,
  * and every checkpoint made through this object while its body runs
  * belongs to the innermost open scope. When the body returns, the
  * scope walks the value it returns (every Dataset in it, inside
  * tuples, options, case classes and collections) and releases each
  * checkpoint it owns that no plan in the value reads: a blocking
  * unpersist, so the blocks are gone on return instead of whenever a
  * GC lets the ContextCleaner run. The checkpoints the value reads pass
  * to the enclosing scope, which applies the same rule to its own
  * value; past the outermost scope they are the caller's. If the body
  * throws, the scope releases everything it owns and rethrows. A
  * checkpoint made outside every scope, before the scope opened or on
  * another thread is never released by it.
  *
  * Scopes are opened where a lifetime is owned: each round of a
  * [[Rounds]] loop, each [[SharedBuilds.memo]] build (which keeps
  * what its value reads until `clear`), every registry entry in
  * [[SparkEntry.queries]] and every caller that forces one
  * ([[Verify]], [[Bench]], [[Explain]]), and the graph and PCA entry
  * points.
  */
object Checkpoints {

  /** The checkpoints each open scope owns, by RDD id, innermost first. */
  private type Scope = mutable.LinkedHashMap[Int, RDD[_]]
  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Eager local checkpoint with measured-size statistics, owned by
    * the innermost open scope. */
  def apply(df: DataFrame): DataFrame =
    own(GraftSqlShims.localCheckpointFreshStats(df))

  /** [[apply]] whose leaf also keeps the hash partitioning its rows
    * really have. Only Louvain's edge frame uses it; the measured reason
    * it is not the default is on
    * [[GraftSqlShims.localCheckpointPartitioned]]. */
  def partitioned(df: DataFrame): DataFrame =
    own(GraftSqlShims.localCheckpointPartitioned(df))

  /** Runs `body` in a new scope (see the lifetime rule above). */
  def scoped[T](body: => T): T = passUp(run(Nil)(body))

  /** [[scoped]] for a loop round that replaces `state` (any value
    * [[scoped]] walks): the round's scope also takes over, from the
    * enclosing scope, the checkpoints `state` reads, so they are
    * released once the round's value no longer reads them. Checkpoints
    * the enclosing scope does not own stay where they are. */
  private[graft] def replacing[T](state: Any)(body: => T): T = {
    val taken = open.get.headOption.toSeq.flatMap { outer =>
      reads(state).toSeq.flatMap(id => outer.remove(id).map(id -> _))
    }
    passUp(run(taken)(body))
  }

  /** [[scoped]] whose kept checkpoints go to the caller instead of the
    * enclosing scope: the value, and the release of what it reads. A
    * shared build holds both until it is cleared. */
  private[graft] def owned[T](body: => T): (T, () => Unit) = {
    val (value, kept) = run(Nil)(body)
    (value, () => release(kept.map(_._2)))
  }

  private def run[T](taken: Iterable[(Int, RDD[_])])(
      body: => T): (T, Iterable[(Int, RDD[_])]) = {
    val scope: Scope = mutable.LinkedHashMap.from(taken)
    val outer = open.get
    open.set(scope :: outer)
    val value =
      try body
      catch { case t: Throwable => release(scope.values); throw t }
      finally open.set(outer)
    val read = reads(value)
    val (kept, dropped) = scope.partition { case (id, _) => read(id) }
    release(dropped.values)
    (value, kept)
  }

  private def passUp[T](ran: (T, Iterable[(Int, RDD[_])])): T = {
    open.get.headOption.foreach(_ ++= ran._2)
    ran._1
  }

  private def own(cp: DataFrame): DataFrame = {
    open.get.headOption.foreach { scope =>
      cp.queryExecution.logical.collectLeaves().foreach {
        case lr: LogicalRDD => scope(lr.rdd.id) = lr.rdd
        case _ =>
      }
    }
    cp
  }

  private def release(rdds: Iterable[RDD[_]]): Unit =
    rdds.foreach(_.unpersist(blocking = true))

  /** Ids of the RDDs the plans in `value` read: each Dataset's
    * `LogicalRDD` leaves, subqueries included, and their lineage. */
  private def reads(value: Any): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    def lineage(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => lineage(d.rdd))
    def walk(v: Any): Unit = v match {
      case ds: Dataset[_] => ds.queryExecution.analyzed.foreachWithSubqueries {
        case lr: LogicalRDD => lineage(lr.rdd)
        case _ =>
      }
      case r: RDD[_] => lineage(r)
      case xs: Iterable[_] => xs.foreach(walk)
      case xs: Array[_] => xs.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ =>
    }
    walk(value)
    seen.toSet
  }
}
