package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The ONE spelling for persisting a multiply-consumed map-only
  * intermediate (shingle sets, sketch tables, fingerprint relations):
  * every such site routes through [[shared]] so the storage level and
  * the release contract cannot drift between operators.
  *
  * Release contract — operation scopes. A maintenance operation runs
  * its body in [[scoped]]: every stored layout's build, ingest, forget
  * and compact (the [[LsmLayout]] skeleton), the [[CorpusLifecycle]]
  * fan-outs and the corpus fixture build. A frame persisted through
  * [[shared]] and the blocks [[IterationCheckpoint.localCounted]]
  * checkpoints while a scope is open are released (non-blocking
  * unpersist) when the scope's body returns or throws. By then the body
  * has settled every write it issued ([[Overlap]] settles its tasks
  * before it returns or rethrows), so nothing is left to read them.
  *
  *  - A scope owns only the cache entries it creates: a persist whose
  *    plan the cache manager already holds (a caller's own cache, or a
  *    concurrent branch's) is not owned and is left alone. The
  *    check-and-persist is atomic between [[shared]] callers.
  *  - Scopes nest (an ingest's auto-compact releases its own entries
  *    at its own end) and follow [[Overlap]] tasks, which run under
  *    their submitter's scope.
  *  - A scope wraps only code that returns `Unit` or a local result: a
  *    lazy frame returned out of it could read released blocks, and a
  *    truncated checkpoint cannot recompute them.
  *
  * Outside any scope nothing changes: the caches are released by the
  * session runner's sweep ([[releaseAll]]), which Verify and Bench run
  * after EVERY query execution. Functions that return a lazy frame
  * (`BandIndex.probe`, `ClusterRegistry.assignments`,
  * `CorpusLifecycle.consistencyAudit`) keep that contract, and so does
  * a library caller composing operators outside a scope: run the sweep
  * once results are consumed, or pass a staged materializer where the
  * operator exposes one (MinHashNearDup.stagedMaterializer — the
  * 100 TB mode, which holds no executor storage at all).
  *
  * What stays persisted across the [[CorpusLifecycle.ingest]] fan-out,
  * and what it reads. A write committing under a path a cached plan
  * reads makes Spark's cache manager drop the cached rows
  * (`recacheByPath`, a prefix match on the relation's root paths), so
  * no such frame may read a path a concurrent branch writes:
  *
  *  - the coordinator's delta sketch (`BandIndex.sketchRelation` of
  *    the delta, shared by the registry ingest and the band append) —
  *    the caller's delta only;
  *  - the chunk store's delta chunk rows — the delta only;
  *  - the registry's fold overlay (`ClusterRegistry.assignments`' recent
  *    generations) — `registry/assignments`, which only the registry's
  *    own branch writes, once, after the overlay's last read;
  *  - the registry's components (`DedupClusters.components`) — its
  *    checkpointed rounds, no path;
  *  - the registry's edge list is checkpointed, not persisted: its plan
  *    read `registry/ledger`, written concurrently by the same ingest,
  *    and, on a shared band, the band the band branch appends to.
  */
object Materialize {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** What one open operation scope created and releases at its end. */
  final class Scope private[Materialize] (
      private[Materialize] val parent: Scope) {
    private val frames = new ConcurrentLinkedQueue[DataFrame]
    private val checkpoints = new ConcurrentLinkedQueue[RDD[_]]

    private[Materialize] def own(df: DataFrame): Unit = frames.add(df)
    private[Materialize] def own(rdd: RDD[_]): Unit = checkpoints.add(rdd)

    /** Unpersist everything owned; a failed release (a stopped context)
      * only leaves the storage to the runner sweep. */
    private[Materialize] def release(): Unit = {
      frames.forEach(df =>
        try df.unpersist(blocking = false) catch { case NonFatal(_) => () })
      checkpoints.forEach(rdd =>
        try rdd.unpersist(blocking = false) catch { case NonFatal(_) => () })
    }
  }

  private val open = new ThreadLocal[Scope]

  /** Serializes the ownership check with the persist it decides. */
  private val ownership = new Object

  /** Run `body` as one operation: what it persists through [[shared]]
    * and checkpoints through [[IterationCheckpoint.localCounted]] is
    * released when it returns or throws. */
  def scoped[A](body: => A): A = {
    val s = new Scope(open.get)
    open.set(s)
    try body
    finally {
      open.set(s.parent)
      s.release()
    }
  }

  /** The calling thread's open scope (null when none), for a task
    * another thread runs. */
  private[operators] def current: Scope = open.get

  /** On a task's thread: run under `s` (null clears a pooled thread's
    * scope left by its previous task). */
  private[operators] def adopt(s: Scope): Unit =
    if (s == null) open.remove() else open.set(s)

  /** Executor cache, spilling to disk rather than OOMing; owned by the
    * open scope when this call created the cache entry. */
  def shared(df: DataFrame): DataFrame = {
    val s = open.get
    if (s == null) df.persist(Level)
    else {
      val created = ownership.synchronized {
        df.storageLevel == StorageLevel.NONE && { df.persist(Level); true }
      }
      if (created) s.own(df)
      df
    }
  }

  /** Hand a checkpointed RDD's blocks to the open scope, if any. */
  private[operators] def ownCheckpoint(rdd: RDD[_]): Unit = {
    val s = open.get
    if (s != null) s.own(rdd)
  }

  /** The runner sweep: drop every cached Dataset AND RDD-level persist
    * (localCheckpoint blocks survive `clearCache` alone). */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
