package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Registry of the suite's memoized SHARED-BUILD artifacts (the
  * co-purchase edge frame, the triangle bundle, the Brandes bundle,
  * the near-dup clusters, the BM25 run, the unigram-LM training run,
  * the Lloyd k-means bundle).
  *
  * Why this exists (r12 advice): a memoized bundle built lazily inside
  * the first consuming query makes the bench artifact dishonest — the
  * build lands in one sample of one arbitrary query, median-of-3
  * discards it, and the artifact's totals no longer contain the
  * suite's dominant costs at all. The registry lets [[graft.Bench]]
  * CLEAR every cache at the start of each sample pass and rebuild each
  * artifact as its OWN timed line item (`b_*` entries in the per-query
  * map, listed under `shared_builds`), so the build cost is measured
  * median-of-3 like every query, counted in the total, and labeled —
  * while consuming queries keep measuring exactly their compose-only
  * cost.
  *
  * The memo contract ([[memo]]), stated once for every build:
  *   - Held per (session, fixture dir). Sessions key a `WeakHashMap`
  *     by object IDENTITY: a stopped session's frames — and the
  *     checkpoint blocks they pin — become collectable with it, a
  *     recycled identity hash never aliases a dead session's frames,
  *     and `spark.newSession()` gets frames of its own.
  *   - One map per build. A builder may look up another memo (the
  *     triangle and Brandes bundles read the co-purchase frame); a
  *     single shared map would re-enter its own `computeIfAbsent`,
  *     which throws "Recursive update" or deadlocks.
  *   - Bench hygiene only: every consumer's answer is identical to
  *     rebuilding inline, and each oracle still derives the artifact
  *     independently.
  *   - Each build is a [[Checkpoints]] scope whose kept checkpoints
  *     the memo owns: when `build` returns, every checkpoint it made
  *     that its value does not read is already released (intermediate
  *     frames, per-round scratch), and those the value reads — its
  *     checkpoint leaves, including the leaves under a lazy union —
  *     stay stored until `clear` releases them, blocking, so their
  *     storage is free on return instead of whenever a JVM GC lets the
  *     ContextCleaner run. A memo looked up inside another scope (the
  *     triangle and Brandes bundles read the co-purchase frame) keeps
  *     its frames: they are its own, not the enclosing scope's.
  *
  * Registration happens in each query pack's object initializer, which
  * `SparkEntry.queries` forces before any bench/verify loop runs.
  */
object SharedBuilds {

  /** One memoized artifact: `clear` releases the given session's held
    * frames (so `force` rebuilds from scratch); `force(session, dir)`
    * builds and MATERIALIZES the artifact for a fixture dir (the
    * builders end in eager [[Checkpoints]], so returning is
    * materializing). */
  final case class Entry(name: String,
      clear: SparkSession => Unit,
      force: (SparkSession, String) => Unit)

  private val reg = new ConcurrentHashMap[String, Entry]()

  /** Memoize `build` under `name` (see the contract above) and register
    * it; returns the memoized lookup. `T` is a frame or a tuple of
    * frames. */
  def memo[T](name: String)(
      build: (SparkSession, String) => T): (SparkSession, String) => T = {
    val held = new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (T, () => Unit)]]()
    val lookup = (s: SparkSession, d: String) =>
      held.synchronized {
        held.computeIfAbsent(s, _ => new ConcurrentHashMap())
      }.computeIfAbsent(d, _ => Checkpoints.owned(build(s, d)))._1
    val clear = (s: SparkSession) =>
      held.synchronized(Option(held.get(s))).foreach { byDir =>
        byDir.keySet.asScala.foreach(d =>
          Option(byDir.remove(d)).foreach { case (_, release) => release() })
      }
    reg.put(name, Entry(name, clear, (s, d) => { lookup(s, d); () }))
    lookup
  }

  /** All registered artifacts, name-sorted — dependency order is by
    * NAME (e.g. `copurchase_edges` sorts before `tri_bundle`), so a
    * dependent bundle's timing measures only its own increment. */
  def all: Seq[Entry] =
    reg.values().toArray(new Array[Entry](0)).toSeq.sortBy(_.name)
}
