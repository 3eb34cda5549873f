package graft

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusAccess, StatusStoreAccess}
import org.apache.spark.sql.execution.GraftExchangePools
import org.apache.spark.sql.execution.datasources.{FileStatusCache, NoopCache}
import org.apache.spark.sql.internal.StaticSQLConf

import graft.operators.Overlap

object SessionRetentionSpec {
  /** Holds the blocking job's task until cleared (tasks run in this JVM). */
  val hold = new AtomicBoolean(false)
}

/** What an engine session keeps after the calls it served: the status
  * store keeps no more finished entries than `Sessions` allows, the
  * driver pools keep Spark's caps and let idle threads exit, and the
  * file-status cache is off. */
class SessionRetentionSpec extends SparkTestBase {

  /** Poll `cond` every 50 ms for at most `seconds`; its last value. */
  private def within(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(seconds)
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }

  test("the status store keeps a bounded number of finished entries and every running job") {
    val sc = spark.sparkContext
    val bound = Sessions.RetainedStatusEntries
    SessionRetentionSpec.hold.set(true)
    val blocker = new Thread(() => {
      sc.setJobGroup("retention-blocker", "held until the spec releases it")
      try sc.parallelize(1 to 1, 1).foreach { _ =>
        val end = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (SessionRetentionSpec.hold.get && System.nanoTime() < end) Thread.sleep(20)
      } finally sc.clearJobGroup()
    })
    blocker.start()
    try {
      assert(within(30)(sc.statusTracker.getJobIdsForGroup("retention-blocker").nonEmpty))
      val held = sc.statusTracker.getJobIdsForGroup("retention-blocker").toSet
      (1 to 50).foreach { i =>
        assert(spark.range(0, 100 + i).selectExpr("sum(id) AS s").head().getLong(0) ===
          (100L + i) * (99L + i) / 2)
      }
      ListenerBusAccess.drain(sc)
      val sqlStore = spark.sharedState.statusStore
      def finishedExecutions = sqlStore.executionsList().count(_.completionTime.isDefined)
      assert(within(30)(StatusStoreAccess.finishedJobs(sc) <= bound &&
        StatusStoreAccess.finishedStages(sc) <= bound && finishedExecutions <= bound),
        s"jobs ${StatusStoreAccess.finishedJobs(sc)}, stages " +
          s"${StatusStoreAccess.finishedStages(sc)}, executions $finishedExecutions")
      assert(held.subsetOf(sc.statusTracker.getActiveJobIds().toSet),
        "the running job left the status store")
    } finally {
      SessionRetentionSpec.hold.set(false)
      blocker.join(TimeUnit.SECONDS.toMillis(60))
    }
  }

  test("the six driver pools keep Spark's caps and let idle threads exit") {
    val caps = Map(
      "broadcast-exchange" -> StaticSQLConf.BROADCAST_EXCHANGE_MAX_THREAD_THRESHOLD,
      "shuffle-exchange" -> StaticSQLConf.SHUFFLE_EXCHANGE_MAX_THREAD_THRESHOLD,
      "ResultQueryStageExecution" -> StaticSQLConf.RESULT_QUERY_STAGE_MAX_THREAD_THRESHOLD,
      "subquery" -> StaticSQLConf.SUBQUERY_MAX_THREAD_THRESHOLD,
      "dynamicpruning" -> StaticSQLConf.BROADCAST_EXCHANGE_MAX_THREAD_THRESHOLD)
      .map { case (name, conf) => name -> conf.defaultValue.get }
      // the adaptive plan's stage-creation pool has a fixed cap, no conf
      .updated("QueryStageCreator", 16)
    val pools = GraftExchangePools.pools
    assert(pools.map(_._1).toSet === caps.keySet)
    pools.foreach { case (name, p) =>
      assert(p.getMaximumPoolSize === caps(name), name)
      assert(p.getCorePoolSize === p.getMaximumPoolSize, name)
      assert(p.getKeepAliveTime(TimeUnit.MILLISECONDS) === Sessions.IdleThreadKeepAliveMs, name)
    }
  }

  test("32 concurrent subquery + broadcast-join queries answer correctly, then every pool thread exits") {
    spark.range(0, 2000).selectExpr("id % 10 AS b", "id AS c")
      .createOrReplaceTempView("retention_t")
    spark.range(0, 10).selectExpr("id AS b", "concat('n', id) AS name")
      .createOrReplaceTempView("retention_d")
    val clients = java.util.concurrent.Executors.newFixedThreadPool(32)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(clients)
    try {
      val runs = (0 until 32).map { i =>
        Future {
          val got = spark.sql(
            s"""SELECT d.name, count(*) AS n
               |FROM retention_t t JOIN retention_d d ON t.b = d.b
               |WHERE t.c > (SELECT avg(c) FROM retention_t) + $i
               |GROUP BY d.name""".stripMargin)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          // avg(c) is 999.5: c in 1000 + i .. 1999
          val want = (1000L + i until 2000L).groupBy(c => s"n${c % 10}")
            .map { case (k, cs) => k -> cs.size.toLong }
          (i, got, want)
        }
      }
      Await.result(Future.sequence(runs), 5.minutes).foreach { case (i, got, want) =>
        assert(got === want, s"query $i")
      }
      Overlap.all(spark)(() => (), () => ())
    } finally clients.shutdown()
    val prefixes = GraftExchangePools.pools.map(_._1 + "-") :+ "graft-overlap-"
    def alive = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && prefixes.exists(t.getName.startsWith)).map(_.getName)
    assert(within(20)(alive.isEmpty && GraftExchangePools.pools.forall(_._2.getPoolSize == 0)),
      s"pool threads still alive: ${alive.sorted.mkString(", ")}")
  }

  test("the file-status cache is off") {
    assert(FileStatusCache.getOrCreate(spark) eq NoopCache)
  }
}
