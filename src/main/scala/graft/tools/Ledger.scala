package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry}
import graft.operators.Trace

/** Execution ledger: runs registry queries the way `graft.Bench` does
  * (noop sink, cache and RDD sweep after each run) under one
  * `SparkListener` and one `QueryExecutionListener`, and writes one
  * JSON record per query: wall time; job, stage and task counts;
  * executor CPU; input, shuffle and spill bytes; the driver gap (wall
  * minus the union of job intervals); the queue wait (`queue_wait_s`:
  * for each stage, the time from its submission to its first task
  * launch, summed — the time stages waited for a free core, which the
  * scheduler's pool policy moves); the top physical operators by
  * their `SQLMetrics` time and rows, read from each action's executed
  * plan; and the [[Trace]] spans of the stored layouts' build, ingest,
  * forget and compact calls, each with the jobs it ran itself (`jobs`)
  * and with its nested spans (`jobs_total`); and what the query left
  * persisted for the sweep (`persisted_after`: persisted RDDs and cached
  * plans, counted just before the ledger's own sweep — an operation
  * scope leaves none, see `graft.operators.Materialize`); and the JVM's
  * live thread count when the query ended (`live_threads`: the driver's
  * pool threads, which idle-exit, show here). With `reps` > 1
  * the record is the fastest rep's, with every rep's wall in `walls_s`.
  *
  * Usage: runMain graft.tools.Ledger <query>[,<query>...]|all [sfDir] [reps] [out]
  * (sfDir defaults to `$SPARK_GRAFT_SF_DIR`, reps to 1, out to
  * LEDGER_r18.json). The timed steady state of `graft.Bench <q> <n>`
  * is the same loop without the listeners.
  */
object Ledger {

  final case class OpTotal(op: String, count: Int, timeMs: Double, rows: Long)

  /** A span with the jobs attributed to it alone and with its children. */
  final case class SpanJobs(span: Trace.Span, jobs: Int, jobsTotal: Int)

  /** Persisted RDDs and cache-manager entries one run left behind. */
  final case class Held(rdds: Int, plans: Int)

  final case class Entry(
      wallS: Double, wallsS: Seq[Double], jobs: Int, stages: Int, tasks: Long,
      executorCpuS: Double, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, driverGapS: Double,
      queueWaitS: Double, topOperators: Seq[OpTotal], spans: Seq[SpanJobs],
      persistedAfter: Held, liveThreads: Int, error: Option[String])

  private final class Job(val id: Int, val startMs: Long, val tags: Set[String],
      val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }

  private final case class Stage(
      id: Int, tasks: Int, cpuNs: Long, input: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, queueWaitMs: Long)

  /** What the two listeners saw since the last [[take]]. */
  private final class Events extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private var jobs = mutable.LinkedHashMap.empty[Int, Job]
    private var stages = mutable.ArrayBuffer.empty[Stage]
    private var ops = mutable.ArrayBuffer.empty[(String, Double, Long)]
    /** First task launch of each stage still running. */
    private val firstLaunch = mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty)
      jobs(e.jobId) = new Job(e.jobId, e.time, tags, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      firstLaunch.getOrElseUpdate(e.stageId, e.taskInfo.launchTime)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val launched = firstLaunch.remove(s.stageId)
        Option(s.taskMetrics).foreach { m =>
          val waitMs = (for (l <- launched; sub <- s.submissionTime) yield l - sub)
            .getOrElse(0L)
          stages += Stage(s.stageId, s.numTasks, m.executorCpuTime,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, waitMs)
        }
      }

    /** Every operator of the action's final plan (adaptive stages and
      * subqueries included) with its timing metrics and output rows. */
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val got = collectWithSubqueries(qe.executedPlan) { case p =>
        val ms = p.metrics.values.collect {
          case m if m.metricType == "timing" => m.value.toDouble
          case m if m.metricType == "nsTiming" => m.value / 1e6
        }.sum
        val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        (p.nodeName.replaceAll("""\s*\(\d+\)$""", ""), ms, rows)
      }
      synchronized { ops ++= got }
    }

    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    def take(): (Seq[Job], Seq[Stage], Seq[(String, Double, Long)]) =
      synchronized {
        val r = (jobs.values.toSeq, stages.toSeq, ops.toSeq)
        jobs = mutable.LinkedHashMap.empty; stages = mutable.ArrayBuffer.empty
        ops = mutable.ArrayBuffer.empty
        r
      }
  }

  /** Total length of the union of `[start, end]` intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The listeners and the span recorder over one session; [[close]]
    * removes them. */
  final class Session(spark: SparkSession) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val events = new Events
    sc.addSparkListener(events)
    spark.listenerManager.register(events)
    private val spans = Trace.start(sc)
    private val threads = java.lang.management.ManagementFactory.getThreadMXBean

    def close(): Unit = {
      Trace.stop()
      spark.listenerManager.unregister(events)
      sc.removeSparkListener(events)
    }

    private def drain(): Unit =
      org.apache.spark.sql.GraftSqlInternals.drainListenerBus(sc)

    /** `name` run `reps` times on `sfDir`; the fastest rep's record. */
    def record(name: String, sfDir: String, reps: Int = 1): Entry = {
      val runs = (1 to reps).map(_ => once(name, sfDir))
      runs.minBy(_.wallS).copy(wallsS = runs.map(_.wallS))
    }

    private def once(name: String, sfDir: String): Entry = measure {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

    /** One record of `body`, then the sweep of what it left persisted. */
    def measure(body: => Unit): Entry = {
      drain()
      events.take()
      spans.clear()
      val t0 = System.nanoTime()
      val error =
        try {
          body
          None
        } catch { case e: Throwable => Some(e.toString) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val liveThreads = threads.getThreadCount
      drain()
      val (jobs, stages, ops) = events.take()
      val traced = spans.recorded
      val held = Held(sc.getPersistentRDDs.size,
        org.apache.spark.sql.GraftSqlInternals.cachedPlanCount(spark))
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val ran = stages.filter(s => jobs.exists(_.stageIds.contains(s.id)))
      val innermost = jobs.flatMap(j => Trace.innermost(j.tags))
      Entry(
        wallS = wallS, wallsS = Seq(wallS), jobs = jobs.size,
        stages = ran.size, tasks = ran.map(_.tasks.toLong).sum,
        executorCpuS = ran.map(_.cpuNs).sum / 1e9,
        inputBytes = ran.map(_.input).sum,
        shuffleReadBytes = ran.map(_.shuffleRead).sum,
        shuffleWriteBytes = ran.map(_.shuffleWrite).sum,
        spillBytes = ran.map(_.spill).sum,
        driverGapS = wallS - unionMs(jobs.map(j => (j.startMs, j.endMs))) / 1e3,
        queueWaitS = ran.map(_.queueWaitMs).sum / 1e3,
        topOperators = ops.groupBy(_._1).toSeq.map { case (op, xs) =>
          OpTotal(op, xs.size, xs.map(_._2).sum, xs.map(_._3).sum)
        }.sortBy(o => (-o.timeMs, -o.rows)).take(5),
        spans = traced.map { s =>
          val tag = Trace.TagPrefix + s.id
          SpanJobs(s, innermost.count(_ == s.id), jobs.count(_.tags(tag)))
        },
        persistedAfter = held,
        liveThreads = liveThreads,
        error = error)
    }
  }

  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def num(d: Double): String = f"$d%.4f"

  private[tools] def json(e: Entry): String = {
    val ops = e.topOperators.map(o =>
      s"""{"op":${str(o.op)},"count":${o.count},""" +
        s""""time_ms":${num(o.timeMs)},"rows":${o.rows}}""")
    val spans = e.spans.map { sj =>
      val s = sj.span
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""path":${str(s.path)},"wall_ms":${s.endMs - s.startMs},""" +
        s""""jobs":${sj.jobs},"jobs_total":${sj.jobsTotal}}"""
    }
    s"""{"wall_s":${num(e.wallS)},""" +
      s""""walls_s":${e.wallsS.map(num).mkString("[", ",", "]")},""" +
      s""""jobs":${e.jobs},"stages":${e.stages},"tasks":${e.tasks},""" +
      s""""executor_cpu_s":${num(e.executorCpuS)},"input_bytes":${e.inputBytes},""" +
      s""""shuffle_read_bytes":${e.shuffleReadBytes},""" +
      s""""shuffle_write_bytes":${e.shuffleWriteBytes},"spill_bytes":${e.spillBytes},""" +
      s""""driver_gap_s":${num(e.driverGapS)},"queue_wait_s":${num(e.queueWaitS)},""" +
      s""""top_operators":${ops.mkString("[", ",", "]")},""" +
      s""""spans":${spans.mkString("[", ",", "]")},""" +
      s""""persisted_after":{"rdds":${e.persistedAfter.rdds},""" +
      s""""plans":${e.persistedAfter.plans}},""" +
      s""""live_threads":${e.liveThreads},""" +
      s""""error":${e.error.map(str).getOrElse("null")}}"""
  }

  def main(args: Array[String]): Unit = {
    val known = SparkEntry.queries.keys.toSeq.sorted
    def usage(msg: String): Nothing = {
      System.err.println(msg + "\nusage: Ledger <query>[,<query>...]|all " +
        "[sfDir] [reps] [out]\nqueries: " + known.mkString(", "))
      sys.exit(2)
    }
    if (args.isEmpty) usage("no queries given")
    val names = if (args(0) == "all") known else args(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(usage("no sfDir given and SPARK_GRAFT_SF_DIR is unset"))
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val out = java.nio.file.Paths.get(args.lift(3).getOrElse("LEDGER_r18.json"))

    val spark = Sessions.local(appName = "graft-ledger")
    spark.sparkContext.setLogLevel("WARN")
    // as in Bench: sinks left by a run at another scale factor would
    // charge stale-file deletion to the lifecycle queries' overwrites
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/sinks"))
    spark.range(1000000L).selectExpr("sum(id * 2) AS s")
      .write.format("noop").mode("overwrite").save()
    val head = s"""{"sf":${str(sfDir)},"reps":$reps,""" +
      s""""cores":${spark.sparkContext.defaultParallelism},"queries":{"""
    val lines = mutable.ArrayBuffer.empty[String]
    val session = new Session(spark)
    try names.foreach { name =>
      val e = session.record(name, sfDir, reps)
      System.err.println(f"[ledger] $name%-36s ${e.wallS}%7.2f s ${e.jobs}%4d jobs" +
        s" held ${e.persistedAfter.rdds}/${e.persistedAfter.plans}" +
        s" threads ${e.liveThreads}")
      lines += s"${str(name)}:${json(e)}"
      // rewritten after every query, so a cut run keeps what it measured
      java.nio.file.Files.writeString(out, lines.mkString(head + "\n", ",\n", "\n}}\n"))
    } finally session.close()
    spark.stop()
  }
}
