package graft.operators

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase

object FairShareSpec {
  /** Holds the bulk job's tasks until cleared (tasks run in this JVM). */
  val hold = new AtomicBoolean(false)
  /** Each token lets one held task finish. */
  val tokens = new AtomicInteger(0)
  /** Held tasks that have started. */
  val started = new AtomicInteger(0)

  def claim(): Boolean = tokens.getAndUpdate(n => math.max(n - 1, 0)) > 0
}

/** The FAIR scheduler pools of `Overlap` tasks: a short branch's job is
  * not queued behind another branch's bulk stage, the pool count stays
  * bounded over many fan-outs, and each task's jobs run in its own pool
  * while the caller's stay in `default`. */
class FairShareSpec extends SparkTestBase {

  private val TaskProperty = "graft.fairshare.task"

  /** Poll `cond` every 20 ms for at most `seconds`; its last value. */
  private def within(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(seconds)
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  /** `body`'s result and, per job, its [[TaskProperty]] and its pool. */
  private def poolsDuring[A](body: => A): (A, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty(TaskProperty)).foreach { t =>
          seen.add(t -> e.properties.getProperty(Overlap.PoolProperty, "default"))
        }
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusAccess.drain(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  test("a one-task job of one branch finishes while an earlier branch's job still has queued tasks") {
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    FairShareSpec.tokens.set(0)
    FairShareSpec.started.set(0)
    FairShareSpec.hold.set(true)
    // twice as many tasks as cores: the second half queues
    val bulk = Overlap.future(spark)(sc.parallelize(1 to 2 * cores, 2 * cores).foreach { _ =>
      FairShareSpec.started.incrementAndGet()
      val end = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (FairShareSpec.hold.get && !FairShareSpec.claim() && System.nanoTime() < end)
        Thread.sleep(10)
    })
    try {
      assert(within(30)(FairShareSpec.started.get == cores))
      val short = Overlap.future(spark) {
        sc.setJobGroup("fairshare-short", "one task, submitted after the bulk stage")
        try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      }
      assert(within(30)(sc.statusTracker.getJobIdsForGroup("fairshare-short").nonEmpty))
      Thread.sleep(200) // the job event precedes the task set's submission
      assert(FairShareSpec.started.get == cores, "a queued bulk task started")
      // free one core: FIFO gives it to the bulk stage's next queued task
      FairShareSpec.tokens.set(1)
      assert(within(20)(short.isDone), "the one-task job is still queued")
      assert(Overlap.await(short) === 1L)
      assert(!bulk.isDone, "the bulk job finished: nothing was queued behind it")
    } finally {
      FairShareSpec.hold.set(false)
      Overlap.settle(bulk)
    }
  }

  test("200 fan-outs add no scheduler pool after the first") {
    val sc = spark.sparkContext
    val width = 3
    def fanOut(): Unit = {
      // every task holds its pool while the others start theirs
      val barrier = new CyclicBarrier(width)
      Overlap.all(spark)(Seq.fill(width)(() => {
        barrier.await(30, TimeUnit.SECONDS)
        sc.parallelize(1 to 1, 1).count()
        ()
      }): _*)
    }
    fanOut()
    val pools = sc.getAllPools.size
    (2 to 200).foreach(_ => fanOut())
    assert(sc.getAllPools.size <= pools, sc.getAllPools.map(_.name).sorted.mkString(", "))
  }

  test("a reused Overlap thread runs each task's jobs in that task's pool; the caller's stay in default") {
    val sc = spark.sparkContext
    val width = 3
    val rounds = 20
    val (ran, pools) = poolsDuring {
      val ran = (0 until rounds).flatMap { r =>
        val barrier = new CyclicBarrier(width)
        Overlap.join(spark)((0 until width).map(k => () => {
          val id = s"$r-$k"
          sc.setLocalProperty(TaskProperty, id)
          try {
            barrier.await(30, TimeUnit.SECONDS)
            sc.parallelize(1 to 1, 1).count()
          } finally sc.setLocalProperty(TaskProperty, null)
          // rotate which task ends last, so the threads change tasks
          Thread.sleep(20L * ((k + r) % width))
          (r, id, Thread.currentThread().getName)
        }))
      }
      sc.setLocalProperty(TaskProperty, "caller")
      try sc.parallelize(1 to 1, 1).count()
      finally sc.setLocalProperty(TaskProperty, null)
      ran
    }
    val poolOf = pools.toMap
    assert(pools.size === rounds * width + 1)
    assert(poolOf("caller") === "default")
    assert(sc.getLocalProperty(Overlap.PoolProperty) === null)
    ran.groupBy(_._1).foreach { case (r, tasks) =>
      val ps = tasks.map(t => poolOf(t._2))
      assert(ps.forall(_.startsWith("overlap-")) && ps.distinct.size === width,
        s"round $r: $ps")
    }
    // a pool thread served tasks of different pools
    val byThread = ran.groupBy(_._3).values.map(_.map(t => poolOf(t._2)).distinct.size)
    assert(byThread.exists(_ > 1), "no thread ran tasks in two pools")
  }
}
