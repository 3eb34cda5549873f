package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext

import graft.SparkTestBase

/** Overlap's settle contract on the interrupt path: when the awaiting
  * thread is interrupted, no task body (and no Spark job of one) is
  * still running by the time the interrupt reaches the caller. */
class OverlapSpec extends SparkTestBase {

  /** A body that ignores interrupts for `ms`, like a write that cannot
    * be stopped midway; sets `exited` as its last act. */
  private def stubborn(ms: Long, started: CountDownLatch, exited: AtomicBoolean): Unit = {
    started.countDown()
    val end = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(ms)
    while (System.nanoTime() < end)
      try Thread.sleep(10) catch { case _: InterruptedException => () }
    exited.set(true)
  }

  /** Run `await` on a fresh thread, interrupt it once `ready` holds, and
    * return what `observe` saw on that thread after `await` returned. */
  private def interrupted[A](await: () => Unit, ready: () => Boolean)(
      observe: () => A): A = {
    var seen: Option[A] = None
    val caller = new Thread(() => {
      try await() catch { case _: InterruptedException => () }
      seen = Some(observe())
    })
    caller.start()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (!ready() && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50) // let the caller block in its await
    caller.interrupt()
    caller.join(TimeUnit.SECONDS.toMillis(60))
    seen.get
  }

  test("settle on interrupt returns only after the task's body has exited") {
    val started = new CountDownLatch(1)
    val exited = new AtomicBoolean(false)
    val t = Overlap.future(spark)(stubborn(500, started, exited))
    val (bodyDone, flag) = interrupted(
      () => Overlap.settle(t), () => started.getCount == 0)(
      () => (exited.get, Thread.currentThread().isInterrupted))
    assert(bodyDone, "settle returned while the task body was still running")
    assert(flag, "settle must re-assert the caller's interrupt")
    assert(t.isCancelled)
  }

  test("join on interrupt settles every task before rethrowing") {
    val started = new CountDownLatch(2)
    val exited = Seq.fill(2)(new AtomicBoolean(false))
    val allDone = interrupted(
      () => Overlap.all(spark)(exited.map(e => () => stubborn(300, started, e)): _*),
      () => started.getCount == 0)(
      () => exited.forall(_.get))
    assert(allDone, "join rethrew while a task body was still running")
  }

  test("settle on interrupt cancels the task's Spark jobs") {
    val sc = spark.sparkContext
    val t = Overlap.future(spark) {
      // tasks spin until killed (bounded, so a failure cannot wedge the suite)
      sc.parallelize(1 to 2, 2).foreach { _ =>
        val tc = TaskContext.get()
        val end = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
      }
    }
    interrupted(() => Overlap.settle(t),
      () => sc.statusTracker.getActiveJobIds().nonEmpty)(() => ())
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(15)
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "the interrupted task's Spark job is still running")
  }
}
