package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One Spark job as the listener saw it. `frames` is the call site's
  * long form (user frames, innermost first). */
final class JobRec(val id: Int, val start: Long, val frames: Seq[String],
    val execId: Option[Long], val stageIds: Seq[Int]) {
  var end: Long = start
}

/** Aggregated task metrics of one stage attempt. */
final case class StageRec(
    stageId: Int, attempt: Int, tasks: Int, failedTasks: Int, cpuNs: Long,
    inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outputBytes: Long)

/** One SQL execution: its call site, interval and executed plan. */
final class ExecRec(val id: Long, val root: Long, val start: Long,
    val frames: Seq[String], val planDescription: String) {
  var end: Long = start
  var qe: Option[QueryExecution] = None
}

/** A span around one public call into the program: name, start, end and
  * parent, in wall-clock milliseconds (the clock Spark stamps its events
  * with), plus the job-id range the call issued. */
final case class Span(
    id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    wallNs: Long, firstJob: Int, lastJob: Int)

/** Outside-in tracing: a `SparkListener` registered from the benchmark,
  * and spans the benchmark records around its calls. Everything is kept
  * in memory and written once, when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val failedTasks = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var maxJob = -1

  private def lines(s: String): Seq[String] =
    Option(s).toSeq.flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, lines(first), exec, e.stageIds)
    maxJob = math.max(maxJob, e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.failed)
      failedTasks((e.stageId, e.stageAttemptId)) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null)
      stages += StageRec(s.stageId, s.attemptNumber(), s.numTasks,
        failedTasks((s.stageId, s.attemptNumber())), m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new ExecRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time,
          lines(s.details), s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach { x =>
          x.end = s.time
          x.qe = org.apache.spark.sql.PerfbenchSql.queryExecution(s)
        }
      case _ =>
    }
  }

  /** Block until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def lastJob: Int = synchronized(maxJob)

  /** Time `body` as a span; the bus is drained before and after so the
    * span's job range is exact (one client thread issues every job). */
  def span[A](name: String)(body: => A): (A, Span) = {
    drain()
    val first = lastJob + 1
    val parent = stack.headOption.getOrElse(-1)
    val id = nextSpan
    nextSpan += 1
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = try body finally stack = stack.tail
    val n1 = System.nanoTime()
    val t1 = System.currentTimeMillis()
    drain()
    val sp = Span(id, parent, name, t0, t1, n1 - n0, first, lastJob)
    synchronized(spans += sp)
    (r, sp)
  }

  def jobsOf(sp: Span): Seq[JobRec] = synchronized {
    (sp.firstJob to sp.lastJob).flatMap(jobs.get)
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.flatMap(_.stageIds).toSet
    stages.filter(s => ids.contains(s.stageId)).toSeq
  }

  /** Executions whose jobs fall in the span, plus job-less executions
    * (catalog commands) started inside it. */
  def execsOf(sp: Span): Seq[ExecRec] = synchronized {
    execs.values.filter(x => x.start >= sp.startMs && x.start <= sp.endMs).toSeq
  }

  /** The frames a job is attributed by: its own call site, else that of
    * the SQL execution it ran under (broadcast and subquery jobs are
    * submitted from pool threads that carry no program frame). */
  def framesOf(j: JobRec): Seq[String] = synchronized {
    if (j.frames.exists(_.startsWith("graft."))) j.frames
    else j.execId.flatMap(execs.get)
      .map(x => execs.get(x.root).map(_.frames).getOrElse(x.frames))
      .getOrElse(j.frames)
  }

  /** Write every span, with the jobs, stages, tasks, executor CPU, driver
    * gap and failed or retried tasks of the calls it covers, and every
    * job with its attributed call site. */
  def writeJson(f: java.io.File): Unit = synchronized {
    val sb = new StringBuilder("{\"spans\": [\n")
    sb.append(spans.map { s =>
      val js = jobsOf(s)
      val st = stagesOf(js)
      val gapMs = s.wallNs / 1e6 - Tracer.unionMs(js.map(j => (j.start, j.end)))
      s"""  {"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_ms": ${s.wallNs / 1e6}, """ +
        s""""jobs": ${js.size}, "stages": ${st.size}, "tasks": ${st.map(_.tasks).sum}, """ +
        s""""executor_cpu_s": ${st.map(_.cpuNs).sum / 1e9}, "driver_gap_ms": $gapMs, """ +
        s""""failed_or_retried_tasks": ${st.map(x => x.failedTasks + (if (x.attempt > 0) x.tasks else 0)).sum}, """ +
        s""""first_job": ${s.firstJob}, "last_job": ${s.lastJob}}"""
    }.mkString(",\n"))
    sb.append("\n], \"jobs\": [\n")
    sb.append(jobs.values.map { j =>
      s"""  {"id": ${j.id}, "start_ms": ${j.start}, "end_ms": ${j.end}, """ +
        s""""exec": ${j.execId.getOrElse(-1L)}, "site": ${Json.str(framesOf(j).find(_.startsWith("graft.")).getOrElse(""))}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Total length of the union of `[start, end]` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The program layer of the innermost program frame: the repo's
    * modules, with `CsvIngest` counted as `sources`. */
  def layerOf(frames: Seq[String]): String =
    frames.find(_.startsWith("graft.")).map { f =>
      if (f.startsWith("graft.transform.CsvIngest")) "sources"
      else f.stripPrefix("graft.").takeWhile(_ != '.') match {
        case "pipeline" | "sources" | "transform" | "warehouse" | "quality" |
            "queries" | "operators" | "functions" => f.stripPrefix("graft.").takeWhile(_ != '.')
        case _ => "other"
      }
    }.getOrElse("unattributed")

  val layoutFiles: Seq[(String, String)] = Seq(
    "registry" -> "ClusterRegistry.scala", "band" -> "BandIndex.scala",
    "lexical" -> "LexicalIndex.scala", "kmv" -> "KmvLayout.scala",
    "ivf" -> "IvfLayout.scala", "chunks" -> "ChunkStore.scala")

  /** The stored layout of the first call-site frame that lies in one of
    * the six layouts' source files; "lifecycle" when none does. */
  def layoutOf(frames: Seq[String]): String =
    frames.iterator.flatMap(f =>
      layoutFiles.find { case (_, file) => f.contains(s"($file:") }.map(_._1))
      .nextOption().getOrElse("lifecycle")
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
}
