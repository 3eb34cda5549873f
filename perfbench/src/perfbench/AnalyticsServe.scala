package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col

import graft.pipeline.BikesharePipeline
import graft.queries.Analytics

/** `analytics_serve`: a seeded stream of the six README questions over
  * the star schema set-up stages, half over the full year and half over
  * a one-week `start_time` window, every answer collected and checked. */
object AnalyticsServe {
  /** Half of `etl_load`'s input: staging it is set-up, once per run. */
  val Trips = 100000
  val questions = Seq("monthly", "gender", "ride_hours", "top_month",
    "weather_type", "per_station")

  /** Run question `q` over `[d0, d1)` (day indices into 2020). */
  def ask(ctx: Ctx, q: Int, window: Option[Int]): Array[Row] = {
    val spark = ctx.spark
    val all = spark.table("graft.trip_fact")
    val tf = window.fold(all) { d0 =>
      val lo = new java.sql.Timestamp((Gen.YearStartS + d0 * Gen.DayS) * 1000L)
      val hi = new java.sql.Timestamp((Gen.YearStartS + (d0 + 7) * Gen.DayS) * 1000L)
      all.filter(col("start_time") >= lo && col("start_time") < hi)
    }
    val df: DataFrame = q match {
      case 0 => Analytics.monthlyTripCounts(tf)
      case 1 => Analytics.genderSplit(tf)
      case 2 => Analytics.rideHoursPerYear(tf)
      case 3 => Analytics.topMonth(tf)
      case 4 => Analytics.tripsByWeatherType(tf,
        spark.table("graft.date_with_weather_type"), spark.table("graft.weather_type"))
      case 5 => Analytics.tripsPerStation(tf, spark.table("graft.dim_station"))
    }
    df.collect()
  }

  /** Does `rows` answer question `q` as the generator's tally says? */
  def matches(q: Int, rows: Array[Row], a: Gen.Answers): Boolean = q match {
    case 0 => rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap == a.monthly
    case 1 => rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == a.gender
    case 2 =>
      val got = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
      got.keySet == a.rideHours.keySet &&
        got.forall { case (y, h) => math.abs(h - a.rideHours(y)) <= 1e-9 * math.max(1.0, h) }
    case 3 => rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq ==
      Option(a.topMonth).toSeq
    case 4 => rows.map(r => r.getInt(0) -> r.getLong(2)).toMap == a.byWeatherType
    case 5 => rows.map(r => r.getInt(0) -> r.getLong(2)).toMap == a.perStation
  }

  /** Stage the full input into `graft` through the pipeline; in a traced
    * run the staging is a span, and its layers are the `etl_load` ones. */
  private def stage(ctx: Ctx, in: Gen.EtlInput): (Double, Option[Map[String, Double]]) = {
    def load() = BikesharePipeline.run(ctx.spark, in.tripDir, in.weatherCsv, "graft")
    ctx.tracer match {
      case Some(t) =>
        val (_, sp) = t.span("pipeline.run")(load())
        (sp.wallNs / 1e9, Some(Layers.etl(t, sp, in.csvBytes, EtlLoad.warehouseDb(ctx))))
      case None =>
        val t0 = System.nanoTime()
        load()
        ((System.nanoTime() - t0) / 1e9, None)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val in = Gen.etlInput(ctx.dir("input"), ctx.seed, Trips)
    ctx.log(s"generated ${in.trips.csvRows} trip rows")
    // set-up: stage the star schema, then ask every question twice over
    // the year and twice over a window (the codegen and JIT warm-up of the
    // twelve query shapes the loop asks)
    val (stageS, etlLayers) = stage(ctx, in)
    val t0 = System.nanoTime()
    for (_ <- 1 to 2; q <- questions.indices; w <- Seq(None, Some(0))) ask(ctx, q, w)
    val setup = stageS + (System.nanoTime() - t0) / 1e9
    ctx.log(s"setup: staging $stageS s, set-up $setup s")
    EtlLoad.checkCounts(ctx, in, "graft")
    val rnd = new Random(ctx.seed * 7919L + 17L)
    // the loop asks whole blocks of twelve: every question over the full
    // year and over a window, in a seeded order, so every run asks the
    // same mix whatever the number of blocks
    def block() = rnd.shuffle(for (q <- questions.indices; w <- Seq(false, true)) yield (q, w))
    val lat = collection.mutable.ArrayBuffer.empty[Double]
    val layers = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val answers = collection.mutable.Map.empty[Option[Int], Gen.Answers]
    var nWindowed = 0
    ctx.startClock()
    while (ctx.running || ctx.attempted == 0) block().foreach { case (q, windowed) =>
      val window = if (windowed) Some(rnd.nextInt(Gen.Days - 7)) else None
      ctx.op(s"analytics.${questions(q)}", headline = true)(ask(ctx, q, window))
        .foreach { case (rows, ns, sp) =>
          lat += ns / 1e6
          if (window.isDefined) nWindowed += 1
          val want = answers.getOrElseUpdate(window,
            window.fold(in.answers(0, Gen.Days))(d => in.answers(d, d + 7)))
          if (!ctx.check(matches(q, rows, want),
              s"${questions(q)} over ${window.fold("the year")(d => s"the week from day $d")} returned ${rows.mkString(",").take(300)}"))
            ctx.wrong()
          for (s <- sp; t <- ctx.tracer) layers += traced(t, s, rows.length)
        }
    }
    val heap = Main.retainedHeapMb(ctx.spark)
    val staged = Main.treeBytes(EtlLoad.warehouseDb(ctx)).toDouble
    val (tp, tail) = Stats.tail(lat.toSeq)
    Outcome(ctx.attempted, ctx.failed, ctx.mismatches.toSeq,
      endToEnd = Seq(
        Metric("setup_s", setup, "s"),
        Metric("retained_heap_mb", heap, "MiB"),
        Metric("space_amp", staged / in.csvBytes, "ratio")),
      detail = Seq(
        Metric("op_tail_ms", tail, "ms"),
        Metric("op_p50_ms", Stats.median(lat.toSeq), "ms"),
        Metric("stage_s", stageS, "s"),
        Metric("query_p50_ms", Stats.median(lat.toSeq), "ms"),
        Metric("query_tail_ms", tail, "ms"),
        Metric("query_tail_pct", tp, "percentile"),
        Metric("queries", lat.size, "count"),
        Metric("windowed_queries", nWindowed, "count"),
        Metric("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")),
      perLayer = Layers.complete(Layers.average(layers.toSeq ++ etlLayers.toSeq), ctx))
  }

  /** File scans of an executed plan, through adaptive stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  private def traced(t: Tracer, sp: Span, resultRows: Int): Map[String, Double] = {
    val js = t.jobsOf(sp)
    val jobMs = Tracer.unionMs(js.map(j => (j.start, j.end)))
    val qes = t.execsOf(sp).filter(x => x.root == x.id).flatMap(_.qe)
    val planMs = qes.map(_.tracker.phases.values.map(_.durationMs).sum).sum
    val fs = qes.flatMap(qe => scans(qe.executedPlan))
    def metric(n: String) = fs.flatMap(_.metrics.get(n)).map(_.value).sum.toDouble
    Map(
      "queries.plan_ms" -> planMs.toDouble,
      "queries.exec_ms" -> jobMs.toDouble,
      "queries.jobs_per_query" -> js.size.toDouble,
      "queries.driver_gap_ms" -> (sp.wallNs / 1e6 - jobMs),
      "sources.bytes_scanned_per_query" -> metric("filesSize"),
      "sources.rows_scanned_per_result_row" -> metric("numOutputRows") / math.max(1, resultRows))
  }
}
