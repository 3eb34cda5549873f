package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    attempted: Long, failed: Long, mismatches: Seq[String],
    endToEnd: Seq[Metric], detail: Seq[Metric], perLayer: Seq[Metric])

/** The state one workload run shares: its session, its fresh work root,
  * its clock, and (in a traced run) its tracer. */
final class Ctx(
    val spark: SparkSession, val work: File, val seed: Long,
    val seconds: Int, val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  private var deadline = Long.MaxValue
  /** Walls of traced and untraced runs of the headline op (traced run). */
  val tracedNs = mutable.ArrayBuffer.empty[Long]
  val untracedNs = mutable.ArrayBuffer.empty[Long]
  private var headlines = 0

  def startClock(): Unit = deadline = System.nanoTime() + seconds * 1000000000L
  def running: Boolean = System.nanoTime() < deadline

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Record a wrong answer; the run then exits non-zero. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) mismatches += what
    ok
  }

  /** Run one operation of the workload and return its result, its wall in
    * ns and, in a traced run, its span. In a traced run a headline op
    * (read-only or idempotent) runs twice back to back, with and without
    * its span, in alternating order; the two walls give the tracing
    * overhead. */
  def op[A](name: String, headline: Boolean = false)(body: => A)
      : Option[(A, Long, Option[Span])] = {
    attempted += 1
    def plain(): (A, Long) = {
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    }
    try tracer match {
      case None =>
        val (r, ns) = plain()
        Some((r, ns, None))
      case Some(t) =>
        if (headline) headlines += 1
        if (headline && headlines % 2 == 0) untracedNs += plain()._2
        val (r, sp) = t.span(name)(body)
        if (headline) {
          tracedNs += sp.wallNs
          if (headlines % 2 == 1) untracedNs += plain()._2
        }
        Some((r, sp.wallNs, Some(sp)))
    } catch {
      case e: Exception =>
        failed += 1
        mismatches += s"$name failed: $e"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  /** Count a completed op whose answer turned out wrong as failed. */
  def wrong(): Unit = failed += 1

  /** Traced over untraced median wall of the headline op, minus one, in %. */
  def overheadPct: Double =
    if (tracedNs.isEmpty || untracedNs.isEmpty) 0.0
    else 100.0 * (Stats.median(tracedNs.map(_.toDouble).toSeq) /
      Stats.median(untracedNs.map(_.toDouble).toSeq) - 1.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the highest percentile with at least ten samples beyond
    * it, `1 - 10/n`, or the median when there are fewer than twenty.
    * Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = math.max(0.5, 1.0 - 10.0 / xs.size)
    (100 * q, quantile(xs, q))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {
  private def usage(): Nothing = {
    System.err.println(
      "usage: perfbench.Main --workload <etl_load|analytics_serve|corpus_maintain> " +
        "--seed <n> --seconds <n> --trace <0|1> --work <dir> --out <dir>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    val workload = opts.getOrElse("workload", usage())
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", usage()))
    val out = new File(opts.getOrElse("out", usage()))
    val wl: Ctx => Outcome = workload match {
      case "etl_load" => EtlLoad.run
      case "analytics_serve" => AnalyticsServe.run
      case "corpus_maintain" => CorpusMaintain.run
      case _ => usage()
    }
    val spark = graft.Sessions.local(
      threads = Runtime.getRuntime.availableProcessors.toString,
      appName = s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = new Ctx(spark, work, seed, seconds, tracer)
    val o = try wl(ctx) finally {
      tracer.foreach { t =>
        out.mkdirs()
        t.writeJson(new File(out, s"spans-$workload-seed$seed.json"))
      }
    }
    spark.stop()
    val correct = o.mismatches.isEmpty && o.failed == 0
    o.mismatches.take(20).foreach(m => System.err.println(s"[perfbench] mismatch: $m"))
    def obj(ms: Seq[Metric]): String = ms.map { m =>
      s"""${Json.str(m.name)}: {"value": ${Json.num(m.value)}, "unit": ${Json.str(m.unit)}}"""
    }.mkString("{", ", ", "}")
    // every named metric of the workload, for people and later tooling
    println(s"""{"workload": ${Json.str(workload)}, "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
      s""""detail": ${obj(o.endToEnd ++ o.detail ++ (if (trace) o.perLayer else Nil))}}""")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, o.attempted)}, """ +
      s""""failed": ${o.failed}, "metrics": ${obj(if (trace) o.perLayer else o.endToEnd)}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** MiB of heap in use after full collections: the least of four, a
    * quarter second apart so Spark's context cleaner can release the
    * broadcast and shuffle state each collection hands it, once the status
    * listeners have taken every pending event. */
  def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Bytes of the regular files under `root`. */
  def treeBytes(root: File): Long = files(root).values.sum

  /** Every regular file under `root` with its size. */
  def files(root: File): Map[String, Long] = {
    if (!root.exists) return Map.empty
    val walk = java.nio.file.Files.walk(root.toPath)
    try {
      val b = Map.newBuilder[String, Long]
      walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) b += p.toString -> p.toFile.length
      }
      b.result()
    } finally walk.close()
  }
}
