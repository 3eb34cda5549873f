package graft.operators

import org.apache.spark.SparkContext

/** Spans around the stored layouts' maintenance operations — build,
  * ingest, forget, compact — emitted once, from the [[LsmLayout]]
  * skeleton, for every layout. Off by default: a span is then one
  * volatile read and the body. A [[Recorder]] switched on from code
  * (`graft.tools.Ledger`) keeps each span's name, layout path, parent
  * and interval, and tags every Spark job the span's body submits with
  * the span's job tag. Jobs are attributed to spans by those tags, not
  * by job-id ranges: [[Overlap]] runs spans concurrently, and its tasks
  * carry their submitter's span tags (see [[inherited]]/[[adopt]]). A
  * job belongs to the innermost span among its tags — span ids grow
  * with start time and the tags on one thread form a chain of nested
  * spans, so that is the largest id. */
private[graft] object Trace {

  val TagPrefix = "graft-span-"

  final class Span private[Trace] (
      val id: Long, val parent: Long, val name: String, val path: String,
      val startMs: Long) {
    @volatile private[Trace] var end: Long = -1L
    /** Wall-clock end, or -1 while the span is open. */
    def endMs: Long = end
  }

  /** Records the spans of one session's driver. */
  final class Recorder private[Trace] (sc: SparkContext) {
    private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
    private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]

    private[Trace] def span[A](name: String, path: String)(body: => A): A = {
      val s = new Span(nextId.getAndIncrement(), innermost(sc.getJobTags())
        .getOrElse(-1L), name, path, System.currentTimeMillis())
      spans.add(s)
      val tag = TagPrefix + s.id
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        s.end = System.currentTimeMillis()
      }
    }

    /** The spans recorded since the last [[clear]], in start order. */
    def recorded: Seq[Span] = {
      import scala.jdk.CollectionConverters._
      spans.asScala.toSeq.sortBy(_.id)
    }

    def clear(): Unit = spans.clear()
  }

  @volatile private var recorder: Recorder = null

  /** Switch span recording on for `sc`'s driver. */
  def start(sc: SparkContext): Recorder = synchronized {
    require(recorder == null, "a span recorder is already on")
    recorder = new Recorder(sc)
    recorder
  }

  def stop(): Unit = synchronized { recorder = null }

  /** The span a job or thread with job tags `tags` belongs to. */
  def innermost(tags: Iterable[String]): Option[Long] =
    tags.iterator.filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toLong).maxOption

  def apply[A](name: String, path: String)(body: => A): A = {
    val r = recorder
    if (r == null) body else r.span(name, path)(body)
  }

  /** The calling thread's span tags, for a task another thread runs. */
  def inherited(sc: SparkContext): Set[String] =
    if (recorder == null) Set.empty
    else sc.getJobTags().filter(_.startsWith(TagPrefix))

  /** On a task's thread: swap the span tags the (pooled) thread holds —
    * inherited when it was created, or left by its previous task — for
    * the submitter's. Runs with the recorder off too: a thread created
    * while a span was open keeps its tag after the recorder stops. */
  def adopt(sc: SparkContext, tags: Set[String]): Unit = {
    sc.getJobTags().filter(_.startsWith(TagPrefix)).foreach(sc.removeJobTag)
    tags.foreach(sc.addJobTag)
  }
}
