package perfbench

import java.io.File

import graft.pipeline.BikesharePipeline

/** `etl_load`: repeated full `BikesharePipeline.run` over a seeded 2020
  * input, staged counts checked after every load. */
object EtlLoad {
  val Trips = 200000
  val WarmTrips = 5000

  /** Stage the small warm-up input, check it, and return its wall. */
  def warmUp(ctx: Ctx, warm: Gen.EtlInput): Double = {
    val t0 = System.nanoTime()
    BikesharePipeline.run(ctx.spark, warm.tripDir, warm.weatherCsv, "warm")
    val s = (System.nanoTime() - t0) / 1e9
    checkCounts(ctx, warm, "warm")
    s
  }

  def checkCounts(ctx: Ctx, in: Gen.EtlInput, db: String): Boolean =
    in.expectedCounts.map { case (t, want) =>
      val got = ctx.spark.table(s"$db.$t").count()
      ctx.check(got == want, s"$db.$t has $got rows, expected $want")
    }.forall(identity)

  def run(ctx: Ctx): Outcome = {
    val in = Gen.etlInput(ctx.dir("input"), ctx.seed, Trips)
    val warm = Gen.etlInput(ctx.dir("warm_input"), ctx.seed + 1, WarmTrips)
    ctx.log(s"generated ${in.trips.csvRows} trip rows, ${in.csvBytes} CSV bytes")
    val setup = warmUp(ctx, warm)
    ctx.log(s"setup $setup s")
    val loads = collection.mutable.ArrayBuffer.empty[Double]
    val layers = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    ctx.startClock()
    while (ctx.running || ctx.attempted == 0) {
      ctx.op("pipeline.run", headline = true) {
        BikesharePipeline.run(ctx.spark, in.tripDir, in.weatherCsv, "graft")
      }.foreach { case (_, ns, sp) =>
        loads += ns / 1e9
        ctx.log(s"load ${ns / 1e9}")
        if (!checkCounts(ctx, in, "graft")) ctx.wrong()
        for (s <- sp; t <- ctx.tracer) layers += Layers.etl(t, s, in.csvBytes, warehouseDb(ctx))
      }
    }
    val heap = Main.retainedHeapMb(ctx.spark)
    val staged = Main.treeBytes(warehouseDb(ctx)).toDouble
    val (tp, tail) = Stats.tail(loads.toSeq)
    Outcome(ctx.attempted, ctx.failed, ctx.mismatches.toSeq,
      endToEnd = Seq(
        Metric("setup_s", setup, "s"),
        Metric("retained_heap_mb", heap, "MiB"),
        Metric("space_amp", staged / in.csvBytes, "ratio")),
      detail = Seq(
        Metric("op_tail_ms", tail * 1000, "ms"),
        Metric("op_p50_ms", Stats.median(loads.toSeq) * 1000, "ms"),
        Metric("etl_load_s", Stats.median(loads.toSeq), "s"),
        Metric("etl_load_tail_s", tail, "s"),
        Metric("etl_load_tail_pct", tp, "percentile"),
        Metric("etl_space_ratio", staged / in.csvBytes, "ratio"),
        Metric("loads", loads.size, "count"),
        Metric("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
        Metric("input_trips", Trips, "count"),
        Metric("input_csv_bytes", in.csvBytes, "B")),
      perLayer = Layers.complete(Layers.average(layers.toSeq), ctx))
  }

  /** The managed location of the staged star schema. */
  def warehouseDb(ctx: Ctx): File = {
    val loc = ctx.spark.sessionState.catalog
      .getDatabaseMetadata("graft").locationUri
    new File(loc)
  }
}
