package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators._
import graft.queries.CorpusFixture

/** `corpus_maintain`: six layouts built on the fixture's base slice, then
  * seeded maintenance cycles of `CorpusLifecycle.ingest`, `forget` and
  * `maintain`, with point probes after every op. */
object CorpusMaintain {
  /** One maintenance cycle, the unit the run times, with the number of
    * point probes after each op: four per cycle, one per serving path. */
  val Cycle = Seq("ingest" -> 2, "forget" -> 1, "maintain" -> 1)
  val ProbeKinds = Seq("lexical", "registry", "band", "chunks")
  val IngestBatch = 100
  val NearDupShare = 0.3   // of each ingest batch: edited copies of live docs
  val ForgetBatch = 25
  /** Compact past two live generations: after a cycle's ingest and forget
    * the lexical index holds three (base, the ingest's, the forget's
    * negative-df one), so every maintain compacts it and observes the
    * other five. */
  val Policy = CorpusLifecycle.MaintenancePolicy(maxLiveGenerations = 2)

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The benchmark's own view of the corpus: what every probe must see. */
  final class Expected(base: Seq[(Long, String)]) {
    val live = mutable.LinkedHashMap.empty[Long, String] ++= base
    val forgotten = mutable.LinkedHashMap.empty[Long, String]
    val ingested = mutable.ArrayBuffer.empty[Long]
    var textBytesIngested = 0L
    def liveTextBytes: Long = live.valuesIterator.map(_.getBytes("UTF-8").length.toLong).sum
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val corpus = Gen.corpus(ctx.seed)
    val sf = ctx.dir("sf").getAbsolutePath
    corpus.docs.toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    corpus.vectors.toSeq.sortBy(_._1).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding").write.parquet(s"$sf/embeddings.parquet")
    val root = new File(ctx.work, "layouts").getAbsolutePath
    def delta(docs: Seq[(Long, String)]): DataFrame =
      docs.toDF("doc_id", "text").withColumn("g", col("doc_id"))
    def vectorsOf(ids: Seq[Long]): DataFrame =
      ids.flatMap(i => corpus.vectors.get(i).map(v => (i, v.toSeq))).toDF("vec_id", "embedding")
    // set-up: build the six layouts as the fixture does; the builds run
    // the shingling, sketching and write paths the ops reuse, so they are
    // also the JIT and codegen warm-up
    val t0 = System.nanoTime()
    CorpusFixture.cloneBase(spark, sf, root, rebuild = true)
    val setup = (System.nanoTime() - t0) / 1e9
    ctx.log(s"setup $setup s")
    val layouts = CorpusFixture.layoutsAt(root)
    val exp = new Expected(corpus.base)
    val rnd = new Random(ctx.seed * 104729L + 3L)
    val held = mutable.Queue.from(rnd.shuffle(corpus.held))
    var nextId = Gen.Docs.toLong

    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def record(kind: String, s: Double): Unit =
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    var files = Main.files(new File(root))
    val newBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def noteWrites(): Unit = {
      val now = Main.files(new File(root))
      now.foreach { case (p, n) =>
        if (!files.contains(p)) {
          val l = p.stripPrefix(root + "/").takeWhile(_ != '/')
          newBytes(l) += n
        }
      }
      files = now
    }

    var opNo = 0
    var probeNo = 0
    val cycles = mutable.ArrayBuffer.empty[Double]
    ctx.startClock()
    while (ctx.running || cycles.isEmpty) {
      var cycleS = 0.0
      // in a traced run the cycle is the parent span of its ops and probes
      def traced(body: => Unit): Unit = ctx.tracer.fold(body)(_.span("corpus.cycle")(body))
      traced(Cycle.foreach { case (kind, probes) =>
        opNo += 1
        if (kind == "maintain") {
          // the dead mass maintain faces, from the layouts' own reports
          val dead = ctx.tracer.map(_ => Layers.deadShares(spark, layouts)).getOrElse(Map.empty)
          ctx.op("corpus.maintain") {
            CorpusLifecycle.maintain(spark, layouts, Policy).collect()
          }.foreach { case (decisions, ns, sp) =>
            record("maintain", ns / 1e9)
            cycleS += ns / 1e9
            for (s <- sp; t <- ctx.tracer) layer += Layers.lifecycle(t, s, "maintain") ++
              Layers.maintainReport(decisions) ++ dead
          }
        } else if (kind == "ingest") {
          val n = IngestBatch
          val docs = (0 until n).map { _ =>
            if (rnd.nextDouble() < NearDupShare || held.isEmpty) {
              val src = exp.live.valuesIterator.drop(rnd.nextInt(exp.live.size)).next()
              nextId += 1
              nextId -> Gen.nearDup(src, rnd)
            } else held.dequeue()
          }
          val d = delta(docs)
          val vecs = vectorsOf(docs.map(_._1))
          ctx.op("corpus.ingest") {
            CorpusLifecycle.ingest(d, "doc_id", "text", layouts, s"i$opNo",
              groupCol = Some("g"), deltaVectors = Some((vecs, "vec_id", "embedding")))
          }.foreach { case (_, ns, sp) =>
            record("ingest", ns / 1e9)
            cycleS += ns / 1e9
            docs.foreach { case (i, t) => exp.live(i) = t; exp.ingested += i }
            exp.textBytesIngested += docs.map(_._2.getBytes("UTF-8").length.toLong).sum
            for (s <- sp; t <- ctx.tracer) layer += Layers.lifecycle(t, s, "ingest")
          }
        } else {
          val ids = rnd.shuffle(exp.live.keys.toVector).take(ForgetBatch)
          val docs = ids.map(i => i -> exp.live(i))
          val d = delta(docs).select("doc_id", "text")
          ctx.op("corpus.forget") {
            CorpusLifecycle.forget(d, "doc_id", "text", layouts, s"f$opNo")
          }.foreach { case (_, ns, sp) =>
            record("forget", ns / 1e9)
            cycleS += ns / 1e9
            docs.foreach { case (i, t) => exp.live.remove(i); exp.forgotten(i) = t }
            for (s <- sp; t <- ctx.tracer) layer += Layers.lifecycle(t, s, "forget")
          }
        }
        noteWrites()
        val frame = corpusFrame(ctx, exp)
        (1 to probes).foreach { _ =>
          probe(ctx, layouts, exp, rnd, frame, ProbeKinds(probeNo % ProbeKinds.size)).foreach {
            case (s, l) => record("probe", s); layer ++= l
          }
          probeNo += 1
        }
      })
      cycles += cycleS
    }
    val heap = Main.retainedHeapMb(ctx.spark)
    audit(ctx, layouts, exp)
    val stored = Main.treeBytes(new File(root)).toDouble
    val liveBytes = exp.liveTextBytes.toDouble
    def p50(k: String) = times.get(k).filter(_.nonEmpty).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
    val ingests = times.getOrElse("ingest", mutable.ArrayBuffer.empty).toSeq
    val probes = times.getOrElse("probe", mutable.ArrayBuffer.empty).toSeq
    val (ip, itail) = Stats.tail(ingests)
    val (_, ctail) = Stats.tail(cycles.toSeq)
    val (pp, ptail) = if (probes.isEmpty) (50.0, 0.0) else Stats.tail(probes)
    val written = newBytes.values.sum.toDouble
    Outcome(ctx.attempted, ctx.failed, ctx.mismatches.toSeq,
      endToEnd = Seq(
        Metric("setup_s", setup, "s"),
        Metric("retained_heap_mb", heap, "MiB"),
        Metric("space_amp", stored / liveBytes, "ratio")),
      detail = Seq(
        Metric("op_tail_ms", ctail * 1000, "ms"),
        Metric("op_p50_ms", Stats.median(cycles.toSeq) * 1000, "ms"),
        Metric("cycle_p50_s", Stats.median(cycles.toSeq), "s"),
        Metric("cycles", cycles.size, "count"),
        Metric("ingest_p50_s", p50("ingest"), "s"),
        Metric("ingest_tail_s", itail, "s"),
        Metric("ingest_tail_pct", ip, "percentile"),
        Metric("forget_p50_s", p50("forget"), "s"),
        Metric("maintain_p50_s", p50("maintain"), "s"),
        Metric("probe_p50_ms", p50("probe") * 1000, "ms"),
        Metric("probe_tail_ms", ptail * 1000, "ms"),
        Metric("probe_tail_pct", pp, "percentile"),
        Metric("write_amp", written / math.max(1L, exp.textBytesIngested), "ratio"),
        Metric("space_amp", stored / liveBytes, "ratio"),
        Metric("ops", times.view.filterKeys(_ != "probe").values.map(_.size).sum, "count"),
        Metric("probes", probes.size, "count"),
        Metric("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")),
      perLayer = Layers.complete(
        Layers.average(layer.toSeq) ++ Layers.layouts.map(l =>
          s"operators.$l.bytes_written" -> newBytes(l).toDouble / math.max(1, times.view.filterKeys(_ != "probe").values.map(_.size).sum)),
        ctx))
  }

  /** Every doc the benchmark ever ingested or based, forgotten or not: the
    * caller-side corpus relation `BandIndex.pointProbe` verifies against. */
  private def corpusFrame(ctx: Ctx, exp: Expected): DataFrame = {
    import ctx.spark.implicits._
    (exp.live.toSeq ++ exp.forgotten.toSeq).toDF("doc_id", "text")
  }

  /** One point probe on serving path `kind`. The registry and chunk
    * probes check a live ingested doc, a live base doc and a forgotten
    * doc; the text-keyed lexical and band probes take one of them. Probes
    * are the traced run's overhead sample: every other one runs untraced.
    * Returns the probe's seconds and, when traced, its layer metrics. */
  private def probe(
      ctx: Ctx, lay: CorpusLifecycle.CorpusLayouts, exp: Expected, rnd: Random,
      corpus: DataFrame, kind: String): Option[(Double, Seq[Map[String, Double]])] = {
    val spark = ctx.spark
    def pick(xs: collection.Seq[Long]): Option[Long] =
      if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
    val live = Seq(pick(exp.ingested.filter(exp.live.contains)),
      pick(exp.live.keys.toVector)).flatten.distinct
    val ids = live ++ pick(exp.forgotten.keys.toVector)
    val idLits = ids.map(Long.box)
    val one = ids(rnd.nextInt(ids.size))
    val text = exp.live.getOrElse(one, exp.forgotten.getOrElse(one, ""))
    def verify(got: Set[Long], i: Long): Unit = {
      val ok = if (exp.live.contains(i)) got.contains(i) else !got.contains(i)
      if (!ctx.check(ok, s"$kind probe: doc $i ${if (exp.live.contains(i)) "missing" else "still served"}"))
        ctx.wrong()
    }
    ctx.op(s"probe.$kind", headline = true) {
      kind match {
        case "lexical" =>
          verify(LexicalIndex.pointProbe(spark, lay.lexical.get, text, 10)
            .collect().map(_.getAs[Long]("doc_id")).toSet, one)
        case "band" =>
          verify(BandIndex.pointProbe(corpus, "doc_id", "text", lay.band.get, text, 0.9)
            .collect().map(_.getAs[Long]("doc_id")).toSet, one)
        case "registry" =>
          val got = ClusterRegistry.canonicalAssignments(spark, lay.registry.get)
            .filter(col("doc_id").isin(idLits: _*)).collect()
            .map(_.getAs[Long]("doc_id")).toSet
          ids.foreach(verify(got, _))
        case "chunks" =>
          val got = ChunkStore.reconstruct(spark, lay.chunks.get)
            .filter(col("doc_id").isin(idLits: _*)).collect()
            .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_md5")).toMap
          ids.foreach(verify(got.keySet, _))
          live.foreach { i =>
            if (!ctx.check(got.get(i).forall(_ == md5(exp.live(i))),
                s"chunks probe: doc $i reconstructs to other text"))
              ctx.wrong()
          }
      }
    }.map { case (_, ns, sp) =>
      (ns / 1e9, (for (s <- sp; t <- ctx.tracer) yield Layers.probe(t, s)).toSeq)
    }
  }

  /** The end-of-run audit, anchored to the benchmark's expected population;
    * any missing or extra doc on any layout fails it. */
  private def audit(ctx: Ctx, lay: CorpusLifecycle.CorpusLayouts, exp: Expected): Unit = {
    import ctx.spark.implicits._
    val anchor = exp.live.keys.toSeq.toDF("doc_id")
    ctx.op("corpus.audit") {
      CorpusLifecycle.consistencyAudit(ctx.spark, lay, Some((anchor, "doc_id"))).collect()
    }.foreach { case (rows, _, _) =>
      val clean = rows.map(r =>
        ctx.check(r.getLong(1) == 0L && r.getLong(2) == 0L,
          s"consistency audit: ${r.getString(0)} missing ${r.getLong(1)} extra ${r.getLong(2)}"))
      if (!(clean.forall(identity) &&
          ctx.check(rows.length == 6, s"consistency audit returned ${rows.length} layouts")))
        ctx.wrong()
    }
  }
}
