package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskStart}

import graft.SparkTestBase
import graft.operators.{ChunkStore, KmvLayout, Trace}

object LedgerSpec {
  /** Tasks of the spec's core-holding job that have started. */
  val started = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** The execution ledger against an independent listener: its job
  * counts, its span attribution, and that spans cost nothing while it
  * is off. */
class LedgerSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the job starts a listener of this spec saw. */
  private def jobsDuring[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusAccess.drain(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  private def tags(e: SparkListenerJobStart): Set[String] =
    Option(e.properties.getProperty("spark.job.tags"))
      .map(_.split(",").toSet).getOrElse(Set.empty)

  private def withLedger[A](f: Ledger.Session => A): A = {
    val s = new Ledger.Session(spark)
    try f(s) finally s.close()
  }

  test("the ledger counts the jobs an independent listener sees") {
    withLedger { ledger =>
      Seq("s1_scan_project", "j4_semi_join").foreach { q =>
        val (e, seen) = jobsDuring(ledger.record(q, sf))
        assert(e.error.isEmpty, q)
        assert(e.jobs > 0 && e.jobs === seen.size, q)
        assert(e.stages > 0 && e.tasks >= e.stages, q)
        assert(e.topOperators.nonEmpty, q)
        // job intervals are stamped in whole milliseconds
        assert(e.driverGapS > -0.002 && e.driverGapS <= e.wallS, q)
      }
    }
  }

  test("lifecycle spans carry the registry ingest's jobs and count each job once") {
    withLedger { ledger =>
      val (e, seen) = jobsDuring(ledger.record("s56_corpus_ingest", sf))
      assert(e.error.isEmpty)
      val spans = e.spans
      val registryIngests = spans.filter(s =>
        s.span.name == "ingest" && s.span.path.endsWith("/registry"))
      // the first ingest runs the registry's writes; the replay no-ops
      assert(registryIngests.size === 2)
      assert(registryIngests.head.jobs > 0)
      // the six layout ingests of one CorpusLifecycle.ingest overlap
      val top = spans.filter(s => s.span.parent < 0 && s.span.name == "ingest")
      assert(top.exists(a => top.exists(b => a.span.id < b.span.id &&
        b.span.startMs < a.span.endMs)), "no two ingest spans overlapped")
      // every job a span tagged is attributed to exactly one span ...
      val tagged = seen.count(j => Trace.innermost(tags(j)).isDefined)
      assert(tagged > 0 && spans.map(_.jobs).sum === tagged)
      // ... and a span's inclusive count is its own jobs plus its
      // children's: no job carries the tags of two sibling spans
      spans.foreach { s =>
        val children = spans.filter(_.span.parent == s.span.id)
        assert(s.jobsTotal === s.jobs + children.map(_.jobsTotal).sum,
          s"${s.span.name} ${s.span.path}")
      }
    }
  }

  test("persisted_after: none after a chunk store build and refresh, some after a query persisting outside any operation") {
    withLedger { ledger =>
      val path = "target/test_ledger/chunks_held"
      val docs = Seq((1L, "a b c d e f g h"), (2L, "b c d e f g h i"))
        .toDF("doc_id", "text")
      // both persist their chunk rows, inside their operation scopes
      val e = ledger.measure {
        ChunkStore.build(docs, "doc_id", "text", path)
        ChunkStore.refresh(docs.withColumn("doc_id", $"doc_id" + 10L),
          "doc_id", "text", path, batchId = "b1")
      }
      assert(e.error.isEmpty && e.jobs > 0)
      assert(e.persistedAfter === Ledger.Held(0, 0))
      // n42 persists its fingerprint relation and leaves it to the sweep
      val q = ledger.record("n42_winnow_candidates", sf)
      assert(q.error.isEmpty)
      assert(q.persistedAfter.rdds > 0 && q.persistedAfter.plans > 0)
      // the ledger's own sweep ran after the count
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("every query record carries the live thread count at the query's end") {
    withLedger { ledger =>
      Seq("s1_scan_project", "j4_semi_join").foreach { q =>
        val e = ledger.record(q, sf)
        assert(e.error.isEmpty, q)
        assert(e.liveThreads > 0, q)
        assert(Ledger.json(e).contains(s""""live_threads":${e.liveThreads},"""), q)
      }
      // threads a query leaves running are in its count
      val release = new java.util.concurrent.CountDownLatch(1)
      val idle = ledger.measure(())
      val parked = Seq.fill(32)(new Thread(() => release.await()))
      try {
        val busy = ledger.measure(parked.foreach(_.start()))
        // other threads may exit in between (idle pool threads)
        assert(busy.liveThreads - idle.liveThreads >= 24,
          s"${idle.liveThreads} -> ${busy.liveThreads}")
      } finally {
        release.countDown()
        parked.foreach(_.join())
      }
    }
  }

  test("queue_wait_s sums each stage's wait from submission to its first task launch") {
    val sc = spark.sparkContext
    val submitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val launched = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted.put(e.stageInfo.stageId, e.stageInfo.submissionTime.get)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        launched.putIfAbsent(e.stageId, e.taskInfo.launchTime)
    }
    withLedger { ledger =>
      ListenerBusAccess.drain(sc)
      sc.addSparkListener(l)
      try {
        val cores = sc.defaultParallelism
        val e = ledger.measure {
          // a job holds every core for a second; one submitted meanwhile waits
          LedgerSpec.started.set(0)
          val holder = new Thread(() =>
            sc.parallelize(1 to cores, cores).foreach { _ =>
              LedgerSpec.started.incrementAndGet()
              Thread.sleep(1000)
            })
          holder.start()
          val deadline = System.nanoTime() + 30000000000L
          while (LedgerSpec.started.get < cores && System.nanoTime() < deadline)
            Thread.sleep(10)
          assert(sc.parallelize(1 to 1, 1).count() === 1L)
          holder.join()
        }
        ListenerBusAccess.drain(sc)
        assert(e.error.isEmpty && e.stages === 2)
        val waitMs = submitted.asScala.map { case (id, t) => launched.get(id) - t }.sum
        assert(e.queueWaitS === waitMs / 1e3)
        assert(e.queueWaitS >= 0.5, e.queueWaitS)
        assert(Ledger.json(e).contains(f""""queue_wait_s":${e.queueWaitS}%.4f,"""))
      } finally sc.removeSparkListener(l)
    }
  }

  test("with the ledger off, Trace records nothing and starts no job") {
    val sc = spark.sparkContext
    val stopped = Trace.start(sc)
    Trace.stop()
    val path = "target/test_ledger/kmv_off"
    val docs = Seq((1L, 0L, "a b c d"), (2L, 1L, "b c d e"))
      .toDF("doc_id", "g", "text")
    val (_, layoutJobs) = jobsDuring {
      KmvLayout.build(docs, "g", "doc_id", "text", path, k = 8)
      KmvLayout.refresh(docs.withColumn("doc_id", $"doc_id" + 10L),
        "g", "doc_id", "text", path, batchId = "b1")
    }
    assert(layoutJobs.nonEmpty)
    assert(layoutJobs.forall(j => Trace.innermost(tags(j)).isEmpty))
    val (inner, spanJobs) = jobsDuring(Trace("off", path)(sc.getJobTags()))
    assert(spanJobs.isEmpty)
    assert(Trace.innermost(inner).isEmpty)
    assert(stopped.recorded.isEmpty)
  }
}
