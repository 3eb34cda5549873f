package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark actions: actions are only
  * sequential because driver code calls them sequentially — Spark's
  * scheduler happily runs several jobs at once inside one application,
  * and back-fills the tail of one job with the next job's tasks. The
  * maintenance fan-outs this serves (one lifecycle call issuing several
  * writes/reads against DISJOINT directories) are
  * dominated by per-action fixed cost at bench scale (job launch,
  * write commit, metadata reads), so overlapping them cuts the wall to
  * the longest chain without changing any stored byte. At 100 TB the
  * same overlap hides the commit/metadata latency of the small
  * relations behind the one genuinely large job.
  *
  * Failure contract: [[join]]/[[all]] SETTLE every task (no write is
  * still in flight when the caller sees the error) and rethrow the
  * FIRST failure in declaration order — the same exception a
  * sequential fan-out would have surfaced, so record-gated retry
  * semantics are unchanged: a failure mid-fan-out leaves a subset of
  * layouts applied, and the retry completes the rest (exactly the
  * partial-failure contract the coordinator specs pin). The interrupt
  * path keeps the contract too: an interrupted [[settle]]/[[join]]
  * cancels its tasks and their Spark jobs and waits (bounded) for every
  * body to exit before the interrupt reaches the caller.
  *
  * Thread notes: tasks bind the caller's SparkSession as the active
  * session (session thread-locals do not cross pool threads); job
  * descriptions/groups are thread-local and intentionally not
  * propagated (cosmetic only on these paths), while each task tags its
  * jobs with a tag of its own, the handle its cancellation uses, and
  * carries its submitter's [[Trace]] span tags and
  * [[Materialize.scoped]] operation scope. Each task also runs its jobs
  * in a FAIR scheduler pool of its own (`Sessions.local` sets FAIR
  * mode): under FIFO a freed core goes to the oldest queued stage, so a
  * branch made of many small dependent jobs waits behind the other
  * branches' bulk stages; with a pool per running branch, a freed core
  * goes to the branch with the fewest running tasks, and a fan-out's
  * wall moves toward its longest chain. The pool is named after the
  * lowest slot free when the body starts, held until the body exits:
  * Spark keeps every pool it creates, so names are reused and the pool
  * count stays at the peak number of concurrent tasks, never one per
  * task. Adaptive-stage, broadcast and subquery jobs inherit the pool
  * through the local properties Spark captures; jobs of the caller's
  * own thread stay in `default`. The pool is unbounded
  * (cached) because tasks may themselves fan out — nested submits must
  * never deadlock — and daemon so it cannot pin a JVM exit. An idle
  * thread exits after `Sessions.IdleThreadKeepAliveMs`, as Spark's own
  * driver pools do in an engine session.
  */
private[graft] object Overlap {

  private lazy val pool =
    new java.util.concurrent.ThreadPoolExecutor(
      0, Int.MaxValue, graft.Sessions.IdleThreadKeepAliveMs,
      java.util.concurrent.TimeUnit.MILLISECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable],
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-overlap-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  /** How long an interrupted [[settle]]/[[join]] waits, after
    * cancelling, for a task's body to exit. */
  private val QuiesceBoundMs = 30000L

  private val nextTagId = new java.util.concurrent.atomic.AtomicLong(0)

  /** The local property naming a job's FAIR scheduler pool. */
  private[graft] val PoolProperty = "spark.scheduler.pool"

  /** The slots of the running task bodies; slot n runs in pool
    * `overlap-n`. */
  private val slots = new java.util.BitSet

  private def acquireSlot(): Int = slots.synchronized {
    val n = slots.nextClearBit(0)
    slots.set(n)
    n
  }

  private def releaseSlot(n: Int): Unit = slots.synchronized(slots.clear(n))

  /** One submitted task. Unlike a plain FutureTask it knows when its
    * body has really exited — a cancelled FutureTask reports done at
    * once while its body may still be running — and every Spark job the
    * body issues carries the task's job tag, so cancelling the task
    * cancels those jobs too. */
  final class Task[A] private[Overlap] (
      spark: SparkSession, tag: String, spans: Set[String],
      scope: Materialize.Scope, body: () => A)
      extends java.util.concurrent.FutureTask[A](() => {
        SparkSession.setActiveSession(spark)
        val sc = spark.sparkContext
        // cached-pool threads inherit the SPAWNING thread's local
        // properties (InheritableThreadLocal) at creation and keep
        // them for the thread's lifetime — a stale job group or SQL
        // execution id would mis-attribute unrelated overlapped jobs
        // in the UI and mis-scope a future cancelJobGroup. Clear them
        // at task entry.
        sc.clearJobGroup()
        sc.setLocalProperty("spark.sql.execution.id", null)
        Trace.adopt(sc, spans)
        Materialize.adopt(scope)
        sc.addJobTag(tag)
        // released before the result is published, so a fan-out issued
        // right after this one finds the slot free again
        val slot = acquireSlot()
        sc.setLocalProperty(PoolProperty, s"overlap-$slot")
        try body()
        finally {
          sc.setLocalProperty(PoolProperty, null)
          releaseSlot(slot)
          sc.removeJobTag(tag)
          Materialize.adopt(null)
        }
      }) {

    private val exited = new java.util.concurrent.CountDownLatch(1)

    // counts down after the body returns, or at once when the task was
    // cancelled before it started
    override def run(): Unit = try super.run() finally exited.countDown()

    /** Cancel the task and its Spark jobs, then wait — uninterruptibly,
      * at most `boundMs` — until its body has exited. An interrupt that
      * arrives meanwhile is re-asserted on return. */
    private[Overlap] def quiesce(boundMs: Long): Unit = {
      cancel(true)
      val deadline = System.nanoTime() + boundMs * 1000000L
      var interrupted = false
      var done = false
      while (!done && System.nanoTime() < deadline) {
        spark.sparkContext.cancelJobsWithTag(tag)
        try done = exited.await(50, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => interrupted = true }
      }
      // a job the body submitted just before it exited outlives it
      spark.sparkContext.cancelJobsWithTag(tag)
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Submit `body` for concurrent execution against `spark`. */
  def future[A](spark: SparkSession)(body: => A): Task[A] = {
    val t = new Task(spark, s"graft-overlap-${nextTagId.getAndIncrement()}",
      Trace.inherited(spark.sparkContext), Materialize.current, () => body)
    pool.execute(t)
    t
  }

  /** Await one task, unwrapping the executor's ExecutionException so
    * callers (and the specs intercepting fence errors) see the
    * original failure type. */
  def await[A](t: Task[A]): A =
    try t.get()
    catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }

  /** Await a task purely to SETTLE it (error paths: a failure is being
    * propagated already and no background write may still be mutating
    * a layout when the caller handles it); its own failure, if any, is
    * swallowed — the primary error wins. A driver interrupt cancels the
    * task and its jobs, waits (bounded) for its body to exit, and is
    * then re-asserted so the caller's interruption semantics survive. */
  def settle(t: Task[_]): Unit =
    try t.get() catch {
      case _: InterruptedException =>
        t.quiesce(QuiesceBoundMs)
        Thread.currentThread().interrupt()
      case _: Throwable => ()
    }

  /** Run the thunks concurrently, settle ALL, return their results in
    * declaration order — or rethrow the first failure. A driver
    * interrupt cancels the whole fan-out and waits (bounded) for every
    * body to exit before the interrupt is rethrown. */
  def join[A](spark: SparkSession)(thunks: Seq[() => A]): Seq[A] = {
    val ts = thunks.map(t => future(spark)(t()))
    var interrupted = false
    val settled = ts.map(t =>
      try Right(t.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          Left(e.getCause)
        case e: InterruptedException =>
          if (!interrupted) {
            interrupted = true
            ts.foreach(_.quiesce(QuiesceBoundMs))
          }
          Left(e)
        case e: Throwable => Left(e)
      })
    settled.collectFirst { case Left(e) => e }.foreach { e =>
      // an earlier task's failure wins; keep the interrupt visible
      if (interrupted && !e.isInstanceOf[InterruptedException])
        Thread.currentThread().interrupt()
      throw e
    }
    settled.collect { case Right(a) => a }
  }

  /** [[join]] for side-effecting fan-outs. */
  def all(spark: SparkSession)(thunks: (() => Unit)*): Unit = {
    join(spark)(thunks)
    ()
  }
}
