package perfbench

import java.io.File

/** The per-layer metrics of the traced run: every name with its unit, and
  * how each workload derives its share from the tracer. A layer a
  * workload leaves idle reports 0. */
object Layers {
  val stagedTables: Seq[String] = Seq("trip_fact", "dim_station", "dim_datetime",
    "weather_fact", "weather_type", "date_with_weather_type")
  val layouts: Seq[String] = Tracer.layoutFiles.map(_._1)

  val units: Seq[(String, String)] =
    Seq("sources.csv_read_s" -> "s", "sources.csv_jobs" -> "count",
      "sources.scan_amp" -> "ratio", "transform.plan_s" -> "s") ++
    stagedTables.map(t => s"warehouse.stage_s.$t" -> "s") ++
    Seq("warehouse.bytes_written" -> "B", "warehouse.files_written" -> "count",
      "warehouse.shuffle_write_bytes" -> "B", "warehouse.spill_bytes" -> "B",
      "warehouse.driver_gap_s" -> "s",
      "quality.gate_s" -> "s", "quality.jobs" -> "count", "quality.driver_gap_s" -> "s",
      "queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms",
      "queries.jobs_per_query" -> "count", "queries.driver_gap_ms" -> "ms",
      "sources.bytes_scanned_per_query" -> "B",
      "sources.rows_scanned_per_result_row" -> "ratio") ++
    layouts.flatMap(l => Seq(
      s"operators.$l.jobs_per_ingest" -> "count",
      s"operators.$l.jobs_per_forget" -> "count",
      s"operators.$l.jobs_per_maintain" -> "count",
      s"operators.$l.busy_s" -> "s",
      s"operators.$l.executor_cpu_s" -> "s",
      s"operators.$l.bytes_written" -> "B",
      s"operators.$l.live_generations" -> "count",
      s"operators.$l.dead_row_share" -> "ratio")) ++
    Seq("ingest", "forget", "maintain").map(o =>
      s"operators.lifecycle.driver_gap_s.$o" -> "s") ++
    Seq("operators.lifecycle.job_concurrency" -> "ratio",
      "operators.maintain.compactions" -> "count",
      "operators.probe.jobs_per_probe" -> "count",
      "operators.probe.bytes_scanned_per_probe" -> "B",
      "spark.failed_or_retried_tasks" -> "count",
      "trace.overhead_pct" -> "%")

  /** Mean of each metric over the traced ops that reported it. */
  def average(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map { k =>
      k -> Stats.mean(ms.flatMap(_.get(k)))
    }.toMap

  /** Every per-layer metric, idle layers at 0, plus the run-wide ones. */
  def complete(got: Map[String, Double], ctx: Ctx): Seq[Metric] = {
    val runWide = ctx.tracer.map { t =>
      Map("spark.failed_or_retried_tasks" ->
        t.stages.map(s => s.failedTasks + (if (s.attempt > 0) s.tasks else 0)).sum.toDouble)
    }.getOrElse(Map.empty) + ("trace.overhead_pct" -> ctx.overheadPct)
    val all = got ++ runWide
    units.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
  }

  private def secs(ms: Long): Double = ms / 1000.0

  private def jobUnion(js: Seq[JobRec]): Long = Tracer.unionMs(js.map(j => (j.start, j.end)))

  /** One traced `BikesharePipeline.run`. */
  def etl(t: Tracer, sp: Span, csvBytes: Long, whDir: File): Map[String, Double] = {
    val js = t.jobsOf(sp)
    val byLayer = js.groupBy(j => Tracer.layerOf(t.framesOf(j)))
    def jobsIn(l: String) = byLayer.getOrElse(l, Nil)
    val roots = t.execsOf(sp).filter(x => x.root == x.id)
    def execsIn(l: String) = roots.filter(x => Tracer.layerOf(x.frames) == l)
    def gap(l: String): Double = secs(
      Tracer.unionMs(execsIn(l).map(x => (x.start, x.end)) ++
        jobsIn(l).map(j => (j.start, j.end))) - jobUnion(jobsIn(l)))
    val whStages = t.stagesOf(jobsIn("warehouse"))
    val notQuality = js.filterNot(j => byLayer.getOrElse("quality", Nil).contains(j))
    val tableRe = """`?graft`?\.`?(\w+)""".r
    val stageS = execsIn("warehouse").flatMap { x =>
      tableRe.findFirstMatchIn(x.planDescription).map(_.group(1))
        .filter(stagedTables.contains)
        .map(tb => s"warehouse.stage_s.$tb" -> secs(x.end - x.start))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val planMs = roots.flatMap(_.qe).map { qe =>
      qe.tracker.phases.values.map(_.durationMs).sum
    }.sum
    val files = Main.files(whDir).keys.count(_.endsWith(".parquet"))
    Map(
      "sources.csv_read_s" -> secs(jobUnion(jobsIn("sources"))),
      "sources.csv_jobs" -> jobsIn("sources").size.toDouble,
      "sources.scan_amp" -> t.stagesOf(notQuality).map(_.inputBytes).sum.toDouble / csvBytes,
      "transform.plan_s" -> secs(planMs),
      "warehouse.bytes_written" -> whStages.map(_.outputBytes).sum.toDouble,
      "warehouse.files_written" -> files.toDouble,
      "warehouse.shuffle_write_bytes" -> whStages.map(_.shuffleWriteBytes).sum.toDouble,
      "warehouse.spill_bytes" -> whStages.map(_.spillBytes).sum.toDouble,
      "warehouse.driver_gap_s" -> gap("warehouse"),
      "quality.gate_s" -> secs(Tracer.unionMs(execsIn("quality").map(x => (x.start, x.end)) ++
        jobsIn("quality").map(j => (j.start, j.end)))),
      "quality.jobs" -> jobsIn("quality").size.toDouble,
      "quality.driver_gap_s" -> gap("quality")) ++ stageS
  }

  /** One traced `CorpusLifecycle` call; jobs go to the layout whose source
    * file holds their first call-site frame. */
  def lifecycle(t: Tracer, sp: Span, op: String): Map[String, Double] = {
    val js = t.jobsOf(sp)
    val all = jobUnion(js)
    val byLayout = js.groupBy(j => Tracer.layoutOf(t.framesOf(j)))
    layouts.flatMap { l =>
      val mine = byLayout.getOrElse(l, Nil)
      Seq(s"operators.$l.jobs_per_$op" -> mine.size.toDouble,
        s"operators.$l.busy_s" -> secs(jobUnion(mine)),
        s"operators.$l.executor_cpu_s" -> t.stagesOf(mine).map(_.cpuNs).sum / 1e9)
    }.toMap ++ Map(s"operators.lifecycle.driver_gap_s.$op" -> (sp.wallNs / 1e9 - secs(all))) ++
      (if (op == "ingest" && all > 0)
        Map("operators.lifecycle.job_concurrency" -> js.map(j => j.end - j.start).sum.toDouble / all)
      else Map.empty)
  }

  /** What one `maintain` call decided: its actions, and each layout's
    * live generation count as the call read it. */
  def maintainReport(decisions: Array[org.apache.spark.sql.Row]): Map[String, Double] =
    decisions.filter(_.getString(1) == "live_generations")
      .map(r => s"operators.${r.getString(0)}.live_generations" -> r.getDouble(2)).toMap +
      ("operators.maintain.compactions" -> decisions.count(_.getString(4) != "none").toDouble)

  /** Each layout's dead-row share from its own report (IVF publishes none). */
  def deadShares(spark: org.apache.spark.sql.SparkSession,
      lay: graft.operators.CorpusLifecycle.CorpusLayouts): Map[String, Double] = {
    import graft.operators._
    def share(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.head()
      val (live, dead) = (r.getLong(0), r.getLong(1))
      if (live + dead == 0) 0.0 else dead.toDouble / (live + dead)
    }
    Map(
      "operators.registry.dead_row_share" -> share(ClusterRegistry.deadRowStats(spark, lay.registry.get)),
      "operators.band.dead_row_share" -> share(BandIndex.deadRowStats(spark, lay.band.get)),
      "operators.lexical.dead_row_share" -> share(LexicalIndex.deadRowStats(spark, lay.lexical.get)),
      "operators.kmv.dead_row_share" -> share(KmvLayout.deadRowStats(spark, lay.kmv.get)),
      "operators.chunks.dead_row_share" -> share(ChunkStore.deadChunkStats(spark, lay.chunks.get)))
  }

  /** One traced point probe. */
  def probe(t: Tracer, sp: Span): Map[String, Double] = {
    val js = t.jobsOf(sp)
    Map("operators.probe.jobs_per_probe" -> js.size.toDouble,
      "operators.probe.bytes_scanned_per_probe" -> t.stagesOf(js).map(_.inputBytes).sum.toDouble)
  }
}
