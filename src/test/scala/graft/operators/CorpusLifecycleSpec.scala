package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Corpus-level forget orchestration: one id set, one batch id, six
  * layouts — idempotent under partial failure (the coordinator crash
  * is repaired by re-running the same call), audited from the REAL
  * serving paths. The s55 oracle gates the full lifecycle against the
  * DuckDB closed form; these pin the mechanics on a hand fixture. */
class CorpusLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private def run(lo: Int, hi: Int): String =
    (lo to hi).map(i => s"b$i").mkString(" ")

  private def docs = (1 to 12).map { i =>
    (i.toLong, run(5 * ((i + 1) / 2), 5 * ((i + 1) / 2) + 19))
  }.toDF("doc_id", "text")

  private def vecs = (1 to 12).map { i =>
    (i.toLong, (0 until 8).map(j => math.sin(i * 0.7 + j).toFloat))
  }.toDF("vec_id", "embedding")

  private def buildAll(root: String): CorpusLifecycle.CorpusLayouts =
    buildOn(root, docs, vecs)

  private def buildOn(
      root: String,
      d: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.DataFrame): CorpusLifecycle.CorpusLayouts = {
    val lay = CorpusLifecycle.CorpusLayouts(
      registry = Some(s"$root/registry"), band = Some(s"$root/band"),
      lexical = Some(s"$root/lexical"), kmv = Some(s"$root/kmv"),
      ivf = Some(s"$root/ivf"), chunks = Some(s"$root/chunks"))
    ClusterRegistry.build(d, "doc_id", "text", s"$root/registry")
    BandIndex.build(d, "doc_id", "text", s"$root/band")
    LexicalIndex.build(d, "doc_id", "text", s"$root/lexical", n = 2)
    KmvLayout.build(d.withColumn("g", col("doc_id")),
      "g", "doc_id", "text", s"$root/kmv", k = 16)
    IvfLayout.build(v, "vec_id", "embedding", s"$root/ivf",
      Similarity.hyperplanes(2, 8).map(_.map(_.toDouble)))
    ChunkStore.build(d, "doc_id", "text", s"$root/chunks", maskBits = 3)
    lay
  }

  private def auditMap(lay: CorpusLifecycle.CorpusLayouts) =
    CorpusLifecycle.forgetAudit(spark, lay,
      Seq(3L, 7L).toDF("doc_id"), "doc_id")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("forget fans one id set out to every layout; audit sees zero everywhere") {
    val root = "target/test_corpuslc/forget"
    val lay = buildAll(root)
    val before = auditMap(lay)
    assert(before.keySet ===
      Set("registry", "band", "lexical", "kmv", "ivf", "chunks"))
    assert(before.values.forall(_._1 == 2L),
      s"fixture: every layout serves both audit ids before the forget: $before")
    CorpusLifecycle.forget(
      docs.filter(col("doc_id").isin(3L, 7L)), "doc_id", "text", lay,
      batchId = "g1")
    val after = auditMap(lay)
    assert(after.values.forall(_._1 == 0L),
      s"a layout still serves a forgotten doc: $after")
    assert(after.values.forall(_._2 == 10L),
      s"every layout must serve exactly the 10 survivors: $after")
  }

  test("a coordinator crash mid-fan-out is repaired by retrying the same call") {
    val root = "target/test_corpuslc/crash"
    val lay = buildAll(root)
    val forget = docs.filter(col("doc_id").isin(3L, 7L))
    // crash after two layouts committed their tombstones
    BandIndex.tombstone(forget.select("doc_id"), "doc_id",
      s"$root/band", batchId = "g1")
    ChunkStore.tombstone(forget.select("doc_id"), "doc_id",
      s"$root/chunks", batchId = "g1")
    // mid-crash state: exactly those two forgot, the other four serve
    val mid = auditMap(lay)
    assert(mid("band")._1 === 0L && mid("chunks")._1 === 0L)
    assert(Seq("registry", "lexical", "kmv", "ivf")
      .forall(mid(_)._1 == 2L), s"unexpected mid-crash state: $mid")
    // the retry completes the remaining four and no-ops the two
    CorpusLifecycle.forget(forget, "doc_id", "text", lay, batchId = "g1")
    // a second replay is a full no-op (records) — nothing double-counts
    CorpusLifecycle.forget(forget, "doc_id", "text", lay, batchId = "g1")
    val after = auditMap(lay)
    assert(after.values.forall(v => v._1 == 0L && v._2 == 10L),
      s"retry did not converge the corpus: $after")
    // the lexical negative-df generation applied exactly once: idf/meta
    // equal a rebuild on the survivors
    val rebuilt = s"$root/lex_rebuilt"
    LexicalIndex.build(docs.filter(!col("doc_id").isin(3L, 7L)),
      "doc_id", "text", rebuilt, n = 2)
    def meta(p: String) = LexicalIndex.metaRow(spark, p)
      .select("n_docs", "n_tokens").as[(Long, Long)].collect().head
    assert(meta(s"$root/lexical") === meta(rebuilt))
  }

  test("corpus compact fans out snapshot-atomic compacts; serving is invariant") {
    val root = "target/test_corpuslc/compact"
    val lay = buildAll(root)
    CorpusLifecycle.forget(
      docs.filter(col("doc_id").isin(3L, 7L)), "doc_id", "text", lay,
      batchId = "g1")
    val before = auditMap(lay)
    CorpusLifecycle.compact(spark, lay)
    assert(auditMap(lay) === before, "compact must not change serving")
    // every layout's latest record is its compact's
    lay.paths.foreach { p =>
      val snap = LsmLayout.snapshot(spark, p)
      assert(snap.lastCompact === snap.id && snap.id > 0L,
        s"$p did not commit a compact record")
      assert(snap.pendingTombstones.isEmpty,
        s"$p did not retire its forget-set")
    }
    // re-forgetting after physical reclamation is a fresh batch
    CorpusLifecycle.forget(
      docs.filter(col("doc_id") === 9L), "doc_id", "text", lay,
      batchId = "g2")
    val after = auditMap(lay)
    assert(after.values.forall(v => v._1 == 0L && v._2 == 9L),
      s"post-compact forget did not apply everywhere: $after")
  }

  // ---- corpus-wide ingest (the forward twin of forget) ---------------

  private def baseDocs = docs.filter(col("doc_id") <= 8L)
  private def deltaDocs = docs.filter(col("doc_id") > 8L)
    .withColumn("g", col("doc_id"))
  private def ingestAuditMap(lay: CorpusLifecycle.CorpusLayouts) =
    CorpusLifecycle.ingestAudit(spark, lay,
      deltaDocs.select("doc_id"), "doc_id")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def runIngest(lay: CorpusLifecycle.CorpusLayouts): Unit =
    CorpusLifecycle.ingest(deltaDocs, "doc_id", "text", lay,
      batchId = "b1", groupCol = Some("g"),
      deltaVectors =
        Some((vecs.filter(col("vec_id") > 8L), "vec_id", "embedding")))

  test("ingest fans one delta out to every layout; audit sees the full batch") {
    val root = "target/test_corpuslc/ingest"
    val lay = buildOn(root, baseDocs, vecs.filter(col("vec_id") <= 8L))
    val before = ingestAuditMap(lay)
    assert(before.values.forall(v => v._1 == 0L && v._2 == 8L),
      s"fixture: no layout serves the delta before the ingest: $before")
    runIngest(lay)
    val after = ingestAuditMap(lay)
    assert(after.keySet ===
      Set("registry", "band", "lexical", "kmv", "ivf", "chunks"))
    assert(after.values.forall(v => v._1 == 4L && v._2 == 12L),
      s"a layout is missing part of the batch: $after")
  }

  test("a coordinator crash mid-ingest is repaired by retrying the same call") {
    val root = "target/test_corpuslc/ingest_crash"
    val lay = buildOn(root, baseDocs, vecs.filter(col("vec_id") <= 8L))
    // crash after two layouts committed the batch
    BandIndex.append(deltaDocs, "doc_id", "text", s"$root/band",
      batchId = "b1")
    KmvLayout.refresh(deltaDocs, "g", "doc_id", "text", s"$root/kmv",
      batchId = "b1")
    val mid = ingestAuditMap(lay)
    assert(mid("band")._1 === 4L && mid("kmv")._1 === 4L)
    assert(Seq("registry", "lexical", "ivf", "chunks")
      .forall(mid(_)._1 == 0L), s"unexpected mid-crash state: $mid")
    // the retry completes the remaining four and no-ops the two;
    // a second replay is a full no-op (markers) — nothing duplicates
    runIngest(lay)
    runIngest(lay)
    val after = ingestAuditMap(lay)
    assert(after.values.forall(v => v._1 == 4L && v._2 == 12L),
      s"retry did not converge the corpus: $after")
    // no layout double-counted: lexical idf/meta equal a rebuild on
    // the full corpus (token totals would double under a replayed
    // generation)
    val rebuilt = s"$root/lex_rebuilt"
    LexicalIndex.build(docs, "doc_id", "text", rebuilt, n = 2)
    def meta(p: String) = LexicalIndex.metaRow(spark, p)
      .select("n_docs", "n_tokens").as[(Long, Long)].collect().head
    assert(meta(s"$root/lexical") === meta(rebuilt))
  }

  test("ingest refuses a configured layout whose inputs are missing") {
    val lay = CorpusLifecycle.CorpusLayouts(
      kmv = Some("target/test_corpuslc/never/kmv"))
    intercept[IllegalArgumentException] {
      CorpusLifecycle.ingest(deltaDocs, "doc_id", "text", lay,
        batchId = "b1", groupCol = None)
    }
    val lay2 = CorpusLifecycle.CorpusLayouts(
      ivf = Some("target/test_corpuslc/never/ivf"))
    intercept[IllegalArgumentException] {
      CorpusLifecycle.ingest(deltaDocs, "doc_id", "text", lay2,
        batchId = "b1", deltaVectors = None)
    }
  }

  test("maintain: observe -> decide -> act per layout, report + convergence") {
    val root = "target/test_corpuslc/maintain"
    val lay = buildOn(root, baseDocs, vecs.filter(col("vec_id") <= 8L))
    runIngest(lay) // every layout now holds base + one delta generation
    val pol = CorpusLifecycle.MaintenancePolicy(
      maxLiveGenerations = 1, maxChunkDeadShare = 0.9,
      maxIvfCellShare = 0.2, ivfRetrainRounds = 2)
    val before = ingestAuditMap(lay)
    def run() = CorpusLifecycle.maintain(spark, lay, pol)
      .as[(String, String, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    val rep = run()
    assert(rep.keySet ===
      Set("registry", "band", "lexical", "kmv", "ivf", "chunks"))
    // gen-count rule: 2 live generations > 1 -> compact (dead-chunk
    // share is 0 after a pure-append ingest, so chunks fall through
    // to the generation rule too)
    Seq("registry", "band", "lexical", "kmv", "chunks").foreach { l =>
      assert(rep(l)._5 === "compact", s"$l: ${rep(l)}")
      assert(rep(l)._2 === "live_generations" && rep(l)._3 === 2.0)
    }
    // 12 vectors in <= 4 cells: max share >= 0.25 > 0.2 -> retrain
    assert(rep("ivf")._5 === "retrain" &&
      rep("ivf")._2 === "max_cell_share")
    // every action flipped a snapshot; serving is invariant
    lay.paths.foreach { p =>
      val snap = LsmLayout.snapshot(spark, p)
      assert(snap.lastCompact === snap.id && snap.id > 0L,
        s"$p did not act on its committed record")
    }
    assert(ingestAuditMap(lay) === before,
      "maintenance must not change serving")
    // second run: the count/share rules converged to none; the IVF
    // cell-share rule is a LEVEL trigger — its decision must agree
    // with the recomputed report either way
    val rep2 = run()
    Seq("registry", "band", "lexical", "kmv", "chunks").foreach { l =>
      assert(rep2(l)._5 === "none", s"$l did not converge: ${rep2(l)}")
      assert(rep2(l)._3 === 1.0)
    }
    import org.apache.spark.sql.functions.{col => c}
    val mx = IvfLayout.cellStats(spark, s"$root/ivf")
      .select(c("share")).as[Double].collect().max
    assert(rep2("ivf")._5 ===
      (if (mx > pol.maxIvfCellShare) "retrain" else "none"))
    assert(ingestAuditMap(lay) === before)
  }

  test("maintain: the dead-share rule compacts a forget-heavy one-generation layout, then converges") {
    val root = "target/test_corpuslc/deadmass"
    val lay = CorpusLifecycle.CorpusLayouts(
      band = Some(s"$root/band"), lexical = Some(s"$root/lexical"),
      kmv = Some(s"$root/kmv"))
    BandIndex.build(docs, "doc_id", "text", s"$root/band")
    LexicalIndex.build(docs, "doc_id", "text", s"$root/lexical", n = 2)
    KmvLayout.build(docs.withColumn("g", col("doc_id")),
      "g", "doc_id", "text", s"$root/kmv", k = 16)
    // ONE generation each, half the docs tombstoned — the state the
    // generation-count rule can never act on
    CorpusLifecycle.forget(docs.filter(col("doc_id") <= 6L),
      "doc_id", "text", lay, batchId = "g1")
    def run() = CorpusLifecycle.maintain(spark, lay,
      CorpusLifecycle.MaintenancePolicy(maxLiveGenerations = 8))
      .as[(String, String, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    val rep = run()
    Seq("band", "lexical", "kmv").foreach { l =>
      assert(rep(l)._2 === "dead_row_share" && rep(l)._5 === "compact",
        s"$l must compact on dead mass: ${rep(l)}")
      // every doc carries the same row count per family (16 bands, 19
      // distinct bigrams, 1 sketch row), so the share is exactly 1/2
      assert(rep(l)._3 === 0.5, s"$l share: ${rep(l)}")
      assert(rep(l)._4 === 0.3)
    }
    // the compacts retired the forget-sets: the second run's dead
    // share is 0 from metadata alone and the count rule (1 live
    // generation) decides none — the convergence contract
    val rep2 = run()
    Seq("band", "lexical", "kmv").foreach { l =>
      assert(rep2(l)._2 === "live_generations" && rep2(l)._5 === "none",
        s"$l did not converge: ${rep2(l)}")
    }
    assert(BandIndex.signatures(spark, s"$root/band").count() === 6L,
      "the dead-share compact must have dropped the forgotten docs")
  }

  test("consistencyAudit: green-zero when coordinated; holes and strays report exactly") {
    val root = "target/test_corpuslc/consistency"
    val lay = buildOn(root, baseDocs, vecs.filter(col("vec_id") <= 8L))
    runIngest(lay)
    def audit() = CorpusLifecycle.consistencyAudit(spark, lay)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val a0 = audit()
    assert(a0.keySet ===
      Set("registry", "band", "lexical", "kmv", "ivf", "chunks"))
    assert(a0.values.forall(_ == ((0L, 0L))),
      s"a coordinated corpus must audit green-zero: $a0")
    // the HOLE: a hand-rolled second batch lands everywhere but the
    // lexical layout (no vectors exist for it, so the ivf row — by its
    // extra-only contract — must stay quiet)
    val d2 = Seq((13L, run(40, 59)), (14L, run(45, 64)))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(d2, "doc_id", "text", s"$root/registry",
      batchId = "b2")
    BandIndex.append(d2, "doc_id", "text", s"$root/band", batchId = "b2")
    KmvLayout.refresh(d2.withColumn("g", col("doc_id")),
      "g", "doc_id", "text", s"$root/kmv", batchId = "b2")
    ChunkStore.refresh(d2, "doc_id", "text", s"$root/chunks",
      batchId = "b2")
    val a1 = audit()
    assert(a1("lexical") === ((2L, 0L)),
      s"the skipped layout must report the exact hole: $a1")
    assert((a1 - "lexical").values.forall(_ == ((0L, 0L))),
      s"only the skipped layout may report: $a1")
    // the STRAY: forget a doc ONLY in the registry — every doc-keyed
    // layout now serves a doc outside the reference population, and
    // the ivf layout reports its surviving vector too
    ClusterRegistry.forget(Seq(2L).toDF("doc_id"), "doc_id",
      s"$root/registry", batchId = "d9")
    val a2 = audit()
    assert(a2("registry") === ((0L, 0L)))
    assert(a2("lexical") === ((2L, 1L)))
    Seq("band", "kmv", "chunks", "ivf").foreach(l =>
      assert(a2(l) === ((0L, 1L)),
        s"$l must report the stray doc as extra: $a2"))
  }

  test("audits read the chunk layout id-only: no store text in the plan") {
    val root = "target/test_corpuslc/idonly"
    ChunkStore.build(docs, "doc_id", "text", s"$root/chunks", maskBits = 3)
    ChunkStore.tombstone(Seq(3L, 7L).toDF("doc_id"), "doc_id",
      s"$root/chunks", batchId = "d1")
    val lay = CorpusLifecycle.CorpusLayouts(chunks = Some(s"$root/chunks"))
    val audit = CorpusLifecycle.forgetAudit(
      spark, lay, Seq(3L, 7L).toDF("doc_id"), "doc_id")
    // the plan pin: survivorship comes from the NARROW manifest
    // relation — no scan reads the store (chunk text), no scan reads
    // any chunk column (ReadSchema "chunk" also matches chunk_h: the
    // audit needs neither). Scans hide below AQE query-stage leaves
    // (the QueryPlansSpec allScans discipline), so execute + recurse.
    audit.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(qs.plan)
      }.flatten
    val scans = scansOf(audit.queryExecution.executedPlan)
    assert(scans.nonEmpty, "audit must scan the stored manifests")
    scans.foreach { s =>
      assert(!s.metadata("ReadSchema").contains("chunk"),
        s"audit must stay id-only: ${s.metadata("ReadSchema")}")
      assert(!s.metadata("Location").contains("/store"),
        s"audit must not touch the store relation: ${s.metadata("Location")}")
    }
    // and the id-only accessor answers exactly like the serving path
    assert(audit.as[(String, Long, Long)].collect().toSeq ===
      Seq(("chunks", 0L, 10L)))
  }

  test("per-path writer epochs fence a superseded coordinator") {
    val root = "target/test_corpuslc/fence"
    val lay = buildAll(root)
    val stale = lay.paths.map(p =>
      p -> LsmLayout.acquireWriterEpoch(spark, p)).toMap
    // a replacement coordinator takes over every path
    lay.paths.foreach(p => LsmLayout.acquireWriterEpoch(spark, p))
    intercept[IllegalStateException] {
      CorpusLifecycle.forget(
        docs.filter(col("doc_id") === 3L), "doc_id", "text", lay,
        batchId = "g1", epochOf = p => stale.get(p))
    }
  }

  test("maintain: the registry dead-share rule compacts a forget-heavy one-generation registry, then converges") {
    val root = "target/test_corpuslc/regdead"
    val lay = CorpusLifecycle.CorpusLayouts(
      registry = Some(s"$root/registry"))
    ClusterRegistry.build(docs, "doc_id", "text", s"$root/registry")
    CorpusLifecycle.forget(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", lay, batchId = "g1")
    val pol = CorpusLifecycle.MaintenancePolicy(maxLiveGenerations = 8)
    val r1 = CorpusLifecycle.maintain(spark, lay, pol).collect().head
    assert(r1.getString(0) === "registry")
    assert(r1.getString(1) === "dead_row_share", "the dead rule decides")
    assert(r1.getDouble(2) === 0.5, "6 of 12 docs tombstoned")
    assert(r1.getString(4) === "compact")
    // the action RAN and reset the metric: the second call reports
    // none via the count rule (share 0 — tombstones applied)
    val r2 = CorpusLifecycle.maintain(spark, lay, pol).collect().head
    assert(r2.getString(1) === "live_generations")
    assert(r2.getString(4) === "none")
    // the compact's pending-tombstone rule folded the LEDGER too: one
    // more cycle and the forgotten text is physically gone
    ClusterRegistry.compact(spark, s"$root/registry")
    assert(spark.read.parquet(s"$root/registry/ledger")
      .filter(col("doc_id") % 2 === 0).count() === 0L)
  }

  test("consistencyAudit: an external anchor surfaces registry-wide loss; self-compare stays blind") {
    val root = "target/test_corpuslc/anchor"
    val lay = buildAll(root)
    val anchor = Some((docs.select("doc_id"), "doc_id"))
    // anchored, nothing lost: green-zero everywhere
    assert(CorpusLifecycle.consistencyAudit(spark, lay, anchor)
      .filter(col("missing") =!= 0L || col("extra") =!= 0L)
      .count() === 0L)
    // the BAD coordinated forget (should never have happened): every
    // layout drops docs 1-3, so the self-referential reference shrinks
    CorpusLifecycle.forget(docs.filter(col("doc_id") <= 3L),
      "doc_id", "text", lay, batchId = "g1")
    val got = CorpusLifecycle.consistencyAudit(spark, lay, anchor)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("registry") === ((3L, 0L)),
      "the anchor must surface the loss on the registry row, once")
    (got - "registry").foreach { case (k, v) =>
      assert(v === ((0L, 0L)),
        s"$k must not fabricate expectations for text the corpus " +
          "no longer holds")
    }
    // without the anchor the loss is invisible — the documented blind
    // spot the expected-population input exists to close
    assert(CorpusLifecycle.consistencyAudit(spark, lay)
      .filter(col("missing") =!= 0L || col("extra") =!= 0L)
      .count() === 0L)
  }

  // ---- one band index per corpus (a registry on the shared band) -----

  private def bandDelta1 = docs.filter(col("doc_id").isin(9L, 10L))
  // doc 13 near-duplicates doc 5 (J = 17/19), so b2 merges into a base
  // cluster only if the probe finds doc 5 in the band the registry reads
  private def bandDelta2 = docs.filter(col("doc_id").isin(11L, 12L))
    .unionByName(Seq((13L, run(15, 33) + " q1")).toDF("doc_id", "text"))

  /** The registry and the standalone band layout over the base docs; the
    * registry probes `$root/band` (shared) or its own copy (private). */
  private def bandTree(
      root: String, shared: Boolean): CorpusLifecycle.CorpusLayouts = {
    val lay = CorpusLifecycle.CorpusLayouts(
      registry = Some(s"$root/registry"), band = Some(s"$root/band"))
    ClusterRegistry.build(baseDocs, "doc_id", "text", s"$root/registry",
      sharedBand = if (shared) lay.band else None)
    BandIndex.build(baseDocs, "doc_id", "text", s"$root/band")
    lay
  }

  private def consistency(lay: CorpusLifecycle.CorpusLayouts) =
    CorpusLifecycle.consistencyAudit(spark, lay)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("shared band vs private band: the same lifecycle serves the same answers") {
    val trees = Seq(true, false).map { shared =>
      val root = s"target/test_corpuslc/band_${if (shared) "shared" else "private"}"
      val lay = bandTree(root, shared)
      CorpusLifecycle.ingest(bandDelta1, "doc_id", "text", lay, batchId = "b1")
      CorpusLifecycle.ingest(bandDelta2, "doc_id", "text", lay, batchId = "b2")
      CorpusLifecycle.forget(docs.filter(col("doc_id").isin(3L, 10L)),
        "doc_id", "text", lay, batchId = "g1")
      CorpusLifecycle.maintain(spark, lay,
        CorpusLifecycle.MaintenancePolicy(maxLiveGenerations = 1)).collect()
      shared -> lay
    }.toMap
    val (sh, pr) = (trees(true), trees(false))
    def canon(lay: CorpusLifecycle.CorpusLayouts) =
      ClusterRegistry.canonicalAssignments(spark, lay.registry.get)
        .as[(Long, Long)].collect().toMap
    assert(canon(sh) === canon(pr))
    assert(canon(sh)(13L) === 5L, "b2's near-dup must join doc 5's cluster")
    assert(!canon(sh).contains(3L) && !canon(sh).contains(10L))
    // the band each registry probes answers a delta probe identically
    val query = Seq((99L, run(5, 23) + " q2")).toDF("doc_id", "text")
    def probed(lay: CorpusLifecycle.CorpusLayouts) = {
      val reg = lay.registry.get
      BandIndex.probe(ClusterRegistry.ledger(spark, reg), query,
        "doc_id", "text",
        ClusterRegistry.sharedBand(spark, reg).getOrElse(s"$reg/band"), 0.8)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(probed(sh) === probed(pr))
    assert(probed(sh).map(_._2) === Set(1L, 2L))
    Seq(sh, pr).foreach(lay =>
      assert(consistency(lay).values.forall(_ == ((0L, 0L))),
        s"${lay.registry.get}: ${consistency(lay)}"))
    // one band index on the shared tree; the private tree keeps its copy
    assert(ClusterRegistry.sharedBand(spark, sh.registry.get) === sh.band)
    assert(!LsmLayout.dirExists(spark, s"${sh.registry.get}/band"))
    assert(ClusterRegistry.sharedBand(spark, pr.registry.get) === None)
    assert(LsmLayout.dirExists(spark, s"${pr.registry.get}/band"))
  }

  test("shared band: a registry half applied alone is completed once by the coordinator retry") {
    val root = "target/test_corpuslc/band_replay"
    val lay = bandTree(root, shared = true)
    val band = lay.band.get
    // the coordinator crashed after the registry half committed b1
    ClusterRegistry.ingest(bandDelta1, "doc_id", "text", lay.registry.get,
      batchId = "b1")
    assert(!LsmLayout.snapshot(spark, band).isApplied("b1"))
    CorpusLifecycle.ingest(bandDelta1, "doc_id", "text", lay, batchId = "b1")
    CorpusLifecycle.ingest(bandDelta1, "doc_id", "text", lay, batchId = "b1")
    assert(spark.read.parquet(s"$band/sigs").filter(col("gen") === "b1")
      .count() === 2L, "the band must hold b1's two docs exactly once")
    assert(BandIndex.signatures(spark, band).count() === 10L)
    assert(consistency(lay).values.forall(_ == ((0L, 0L))))
    // the band now holds every batch the registry applied: the next
    // ingest passes the delivery check
    CorpusLifecycle.ingest(bandDelta2, "doc_id", "text", lay, batchId = "b2")
    assert(BandIndex.signatures(spark, band).count() === 13L)
  }

  test("shared band: a lost band generation audits as band missing, registry whole") {
    val root = "target/test_corpuslc/band_audit"
    val lay = bandTree(root, shared = true)
    CorpusLifecycle.ingest(bandDelta1, "doc_id", "text", lay, batchId = "b1")
    assert(consistency(lay).values.forall(_ == ((0L, 0L))))
    // b1's data files are lost; its record still names the generation
    Seq("sigs", "postings").foreach { r =>
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$root/band/$r/gen=b1"))
      try walk.filter(f => java.nio.file.Files.isRegularFile(f))
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
    val a = consistency(lay)
    assert(a("band") === ((2L, 0L)), s"b1's two docs must show missing: $a")
    assert(a("registry") === ((0L, 0L)), s"the registry lost nothing: $a")
  }

  test("shared band: the coordinator refuses a band that is not the one the registry's meta names") {
    val root = "target/test_corpuslc/band_guard"
    val lay = bandTree(root, shared = true)
    Seq(lay.copy(band = None), lay.copy(band = Some(s"$root/other_band")))
      .foreach { bad =>
        def refused(call: => Any): Unit = {
          val e = intercept[IllegalArgumentException](call)
          assert(e.getMessage.contains(s"$root/band"), e.getMessage)
        }
        refused(CorpusLifecycle.ingest(bandDelta1, "doc_id", "text", bad,
          batchId = "b1"))
        refused(CorpusLifecycle.forget(docs.filter(col("doc_id") === 3L),
          "doc_id", "text", bad, batchId = "g1"))
        refused(CorpusLifecycle.maintain(spark, bad))
      }
    // refused up front: no layout applied anything
    Seq(s"$root/registry", s"$root/band").foreach(p =>
      assert(LsmLayout.snapshot(spark, p).applied.isEmpty, p))
    // the same band spelled as an absolute path is the same band
    CorpusLifecycle.ingest(bandDelta1, "doc_id", "text",
      lay.copy(band = Some(new java.io.File(s"$root/band").getAbsolutePath)),
      batchId = "b1")
    assert(LsmLayout.snapshot(spark, s"$root/band").isApplied("b1"))
  }

  test("maintain: the lexical generation rule counts build, ingest and forget as three meta generations") {
    val root = "target/test_corpuslc/lexical_gens"
    val lay = CorpusLifecycle.CorpusLayouts(lexical = Some(s"$root/lexical"))
    LexicalIndex.build(baseDocs, "doc_id", "text", s"$root/lexical", n = 2)
    CorpusLifecycle.ingest(deltaDocs, "doc_id", "text", lay, batchId = "b1")
    CorpusLifecycle.forget(docs.filter(col("doc_id") === 3L), "doc_id",
      "text", lay, batchId = "g1")
    assert(LexicalIndex.generationCount(spark, s"$root/lexical") === 3)
    // a dead-share threshold the forget cannot reach leaves the decision
    // to the generation rule: base, b1 and ts-g1 > 2
    val pol = CorpusLifecycle.MaintenancePolicy(
      maxLiveGenerations = 2, maxLexicalDeadShare = 1.0)
    val rep = CorpusLifecycle.maintain(spark, lay, pol)
      .as[(String, String, Double, Double, String)].collect()
    assert(rep.toSeq ===
      Seq(("lexical", "live_generations", 3.0, 2.0, "compact")))
    assert(LexicalIndex.generationCount(spark, s"$root/lexical") === 1)
    assert(!new java.io.File(s"$root/lexical/lexicon").exists())
  }
}
