package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level maintenance orchestration — ONE call per lifecycle
  * event, fanned out to every stored layout a deployment keeps.
  *
  * The gap this closes (the round-13 review's #1 missing piece): a
  * production GDPR deletion request names USER DATA, not layouts. A
  * deployment that indexes one corpus six ways (near-dup registry,
  * standalone band index, lexical index, KMV overlap sketches, IVF
  * vectors, chunk store) must fan the delete out to six per-layout
  * forget calls — and forgetting five of six silently RETAINS the doc
  * in the sixth, exactly the failure mode no per-layout oracle can
  * see. [[forget]] takes one id set, one batch id, and applies it
  * everywhere.
  *
  * IDEMPOTENT UNDER PARTIAL FAILURE by construction: every per-layout
  * forget is already record-gated (`ts-<batchId>` applied in its own
  * commit record — the [[LsmLayout]] at-least-once contract), so a
  * coordinator crash between layouts is repaired by re-running the
  * SAME call: layouts that committed no-op on their records, layouts
  * the crash skipped apply now. The s55 oracle gates exactly that
  * (two layouts "crash-applied" individually, then the coordinator
  * completes and replays).
  *
  * ONE band index per corpus: the six ways share one MinHash band
  * index. A registry built with `sharedBand` = the deployment's `band`
  * layout probes that layout instead of keeping a private copy, and the
  * band branch of every call here owns its appends, tombstones and
  * compacts. [[ingest]], [[forget]], [[compact]] and [[maintain]] check
  * up front that `layouts.band` is the band the registry's record names
  * (a registry with a private band may run beside any band layout).
  *
  * Each fan-out ([[ingest]], [[forget]], [[compact]], [[maintain]]) is
  * one [[Materialize.scoped]] operation around its branches, which
  * carry the scope: what the call persists is released when it ends.
  * [[ingest]] sketches the batch ONCE for the registry ingest and the
  * band append and owns that sketch.
  *
  * Writer fencing: epochs are PATH-scoped ([[LsmLayout]]), so one
  * coordinator epoch cannot fence six paths; `epochOf` maps each
  * layout path to the epoch its maintenance loop holds (default
  * unfenced — batch jobs, tests).
  *
  * 100 TB shape: pure fan-out of forget-set-sized work — each layout
  * call writes one tombstone id list (plus the lexical negated meta
  * generation, the forget docs' document and token counts); no stored
  * relation is scanned or rewritten. [[compact]] fans out the
  * snapshot-atomic per-layout compacts when physical reclamation is
  * due — deliberately the corpus-sized pass, per the layout contract.
  */
object CorpusLifecycle {

  /** The stored-layout paths one corpus is indexed under; `None` =
    * the deployment does not keep that layout. */
  final case class CorpusLayouts(
      registry: Option[String] = None,
      band: Option[String] = None,
      lexical: Option[String] = None,
      kmv: Option[String] = None,
      ivf: Option[String] = None,
      chunks: Option[String] = None) {
    def paths: Seq[String] =
      Seq(registry, band, lexical, kmv, ivf, chunks).flatten
  }

  /** A registry on a shared band leaves every band write to this
    * coordinator's band branch, so that branch must exist and point at
    * the same band — otherwise the batch silently never reaches the
    * index the registry probes. */
  private def requireSharedBand(
      spark: SparkSession, layouts: CorpusLayouts): Unit =
    for (r <- layouts.registry; b <- ClusterRegistry.sharedBand(spark, r))
      require(layouts.band.exists(LsmLayout.sameLocation(_, b)),
        s"registry $r probes the shared band index $b, but layouts.band " +
          s"is ${layouts.band.getOrElse("not configured")} — its band " +
          "writes would miss the index the registry probes")

  /** Right-to-be-forgotten across the whole corpus: ONE forget-set
    * (`forgetDocs`, carrying `idCol` everywhere and `textCol` for the
    * lexical negated token count), ONE batch id, every layout. After
    * this returns, no serving path of any configured layout returns
    * the docs: the registry fold and canonical view, band probes and
    * point probes, lexical probes/idf/BM25, KMV group folds and the
    * overlap matrix, IVF top-k, and chunk reconstruction. Ids also
    * never resurface as candidates in later ingests. Retry with the
    * same batch id to complete a partially-failed fan-out. */
  def forget(
      forgetDocs: DataFrame, idCol: String, textCol: String,
      layouts: CorpusLayouts, batchId: String,
      epochOf: String => Option[Long] = _ => None): Unit = {
    requireSharedBand(forgetDocs.sparkSession, layouts)
    val ids = forgetDocs.select(col(idCol))
    // the six per-layout forgets touch disjoint paths and are each
    // record-gated — fan them out CONCURRENTLY (Overlap settles every
    // branch before surfacing a failure, so an error mid-fan-out
    // leaves exactly the partial state the retry contract repairs)
    Materialize.scoped(Overlap.all(forgetDocs.sparkSession)(
      (layouts.registry.map(p => () =>
        ClusterRegistry.forget(ids, idCol, p, batchId, epochOf(p))) ++
      layouts.band.map(p => () =>
        BandIndex.tombstone(ids, idCol, p, batchId, epochOf(p))) ++
      layouts.lexical.map(p => () =>
        LexicalIndex.tombstone(forgetDocs, idCol, textCol, p, batchId,
          epochOf(p))) ++
      layouts.kmv.map(p => () =>
        KmvLayout.tombstone(ids, idCol, p, batchId, epochOf(p))) ++
      layouts.ivf.map(p => () =>
        IvfLayout.tombstone(ids, idCol, p, batchId, epochOf(p))) ++
      layouts.chunks.map(p => () =>
        ChunkStore.tombstone(ids, idCol, p, batchId, epochOf(p)))).toSeq: _*))
  }

  /** Corpus-wide delta ingest: ONE delta batch, ONE batch id, every
    * layout — the forward twin of [[forget]]. The failure mode this
    * closes is symmetric to the forget one: a caller that fans a new
    * batch out by hand and crashes after five of six layouts leaves
    * the sixth silently MISSING the docs — every probe of that layout
    * under-serves, and no per-layout oracle can see it. One call, and
    * a retry with the same batch id, repairs any partial fan-out
    * (every per-layout ingest is record-gated, the [[LsmLayout]]
    * at-least-once contract).
    *
    * Per-layout contracts carried through: delta doc ids must be NEW;
    * the registry is SELF-CONTAINED (it owns its text ledger, so no
    * caller-assembled corpus relation exists to go stale — the silent
    * wrong-merge class the old `corpus` parameter carried is gone by
    * construction); the KMV layout needs the delta's `groupCol`; the
    * IVF layout ingests VECTORS, not text — pass the delta's embedding
    * rows as `deltaVectors = (frame, vecIdCol, vecCol)`. Omitting a
    * needed argument while the layout is configured fails loudly up
    * front (a silent skip would be exactly the under-serve this call
    * exists to prevent).
    *
    * 100 TB shape: pure fan-out of delta-sized work — each layout's
    * ingest is delta-sized by its own contract (the registry probe is
    * delta×pruned-band-partitions; nothing stored is rewritten);
    * `compactAfterGenerations` bounds every layout's generation count
    * under a continuous loop. */
  def ingest(
      delta: DataFrame, idCol: String, textCol: String,
      layouts: CorpusLayouts, batchId: String,
      groupCol: Option[String] = None,
      deltaVectors: Option[(DataFrame, String, String)] = None,
      compactAfterGenerations: Int = 0,
      epochOf: String => Option[Long] = _ => None): Unit = {
    require(layouts.kmv.isEmpty || groupCol.isDefined,
      "a KMV layout is configured but no groupCol was supplied — the " +
        "layout would silently miss this batch")
    require(layouts.ivf.isEmpty || deltaVectors.isDefined,
      "an IVF layout is configured but no deltaVectors were supplied — " +
        "the layout would silently miss this batch")
    val spark = delta.sparkSession
    requireSharedBand(spark, layouts)
    Materialize.scoped {
      // ONE delta sketch (with the band's own constants) for the band append
      // and a registry probing that band: persisted here, lazily — the
      // first consumer inside the fan-out computes it, once, under the
      // block lock — and released with this call's scope. Each branch
      // persisting its own equal sketch would share one cache entry
      // (plan-keyed), which whichever branch ended first would drop. A
      // band whose record cannot be read gets no sketch: its branch fails
      // on its own, as it would without one.
      val sketch = layouts.band.flatMap(b =>
        scala.util.Try(BandIndex.metaOf(spark, b)).toOption.map {
          case (numHashes, bands, shingleWidth) =>
            Materialize.shared(BandIndex.sketchRelation(
              delta, idCol, textCol, shingleWidth, numHashes, bands))
        })
      val registrySketch = layouts.registry
        .flatMap(ClusterRegistry.sharedBand(spark, _)).flatMap(_ => sketch)
      // the six per-layout ingests touch disjoint paths and are each
      // record-gated — fan them out CONCURRENTLY: at bench scale each
      // branch's wall is dominated by per-action fixed cost, and at
      // 100 TB the small layouts' commit latency hides behind the
      // registry's probe. Failure semantics are unchanged (Overlap
      // settles every branch, then rethrows the first error — a partial
      // fan-out the same retry call repairs).
      Overlap.all(spark)(
        (layouts.registry.map(p => () =>
          ClusterRegistry.ingest(delta, idCol, textCol, p, batchId,
            compactAfterGenerations, epochOf(p), registrySketch)) ++
        layouts.band.map(p => () =>
          BandIndex.append(delta, idCol, textCol, p, batchId,
            compactAfterGenerations, epochOf(p), sketch)) ++
        layouts.lexical.map(p => () =>
          LexicalIndex.refresh(delta, idCol, textCol, p, batchId,
            compactAfterGenerations, epochOf(p))) ++
        layouts.kmv.map(p => () =>
          KmvLayout.refresh(delta, groupCol.get, idCol, textCol, p, batchId,
            compactAfterGenerations, epochOf(p))) ++
        layouts.ivf.map { p => () =>
          val (vecs, vid, vcol) = deltaVectors.get
          IvfLayout.refresh(vecs, vid, vcol, p, batchId,
            compactAfterGenerations, epochOf(p))
        } ++
        layouts.chunks.map(p => () =>
          ChunkStore.refresh(delta, idCol, textCol, p, batchId,
            compactAfterGenerations, epochOf(p)))).toSeq: _*)
    }
  }

  /** Fan out the snapshot-atomic compacts — physical reclamation of
    * every pending forget across the corpus (each layout writes a new
    * immutable base generation and flips its manifest; concurrent
    * readers are safe throughout, per the [[LsmLayout]] snapshot
    * contract). Each layout compacts independently; a crash mid-fan-out
    * leaves the remaining layouts' forget-sets pending (still correct
    * at serve time) for the next call. */
  def compact(
      spark: SparkSession, layouts: CorpusLayouts,
      epochOf: String => Option[Long] = _ => None): Unit = {
    requireSharedBand(spark, layouts)
    // independent snapshot-atomic compacts on disjoint paths — fan out
    // concurrently; a failure leaves the other layouts' forget-sets
    // applied or pending exactly as a crash would (still correct at
    // serve time, repaired by the next call)
    Materialize.scoped(Overlap.all(spark)(
      (layouts.registry.map(p => () =>
        ClusterRegistry.compact(spark, p, epochOf(p))) ++
      layouts.band.map(p => () => BandIndex.compact(spark, p, epochOf(p))) ++
      layouts.lexical.map(p => () =>
        LexicalIndex.compact(spark, p, epochOf(p))) ++
      layouts.kmv.map(p => () => KmvLayout.compact(spark, p, epochOf(p))) ++
      layouts.ivf.map(p => () => IvfLayout.compact(spark, p, epochOf(p))) ++
      layouts.chunks.map(p => () =>
        ChunkStore.compact(spark, p, epochOf(p)))).toSeq: _*))
  }

  /** The maintenance policy [[maintain]] decides with — every
    * threshold compares against a report the layouts already publish,
    * so the decision inputs are themselves spec/oracle-gated:
    *
    *  - `maxLiveGenerations` — any layout whose live generation count
    *    (from its commit record) exceeds this compacts; this is also what
    *    bounds the budget-guarded read-side broadcasts (overlay,
    *    tombstone lists), so size it with `broadcastBudgetBytes` in
    *    mind;
    *  - `maxChunkDeadShare` — the chunk store compacts when
    *    [[ChunkStore.deadChunkStats]] reports more than this fraction
    *    of store rows dead (orphaned by superseded edits or forgets);
    *  - `maxBandDeadShare` / `maxLexicalDeadShare` / `maxKmvDeadShare`
    *    / `maxRegistryDeadShare`
    *    — the posting/sketch/assignment families compact when their
    *    `deadRowStats` report more than this fraction of stored rows
    *    belonging to pending-tombstoned docs (forget mass every probe
    *    still scans and anti-joins). This is what makes the policy
    *    DATA-AWARE on every family: a forget-heavy layout with few
    *    generations compacts on dead mass, never waiting for a
    *    generation count that may never come;
    *  - `maxIvfCellShare` — the IVF layout RETRAINS (not just
    *    compacts) when [[IvfLayout.cellStats]] reports a cell holding
    *    more than this fraction of the live corpus: a hot cell is
    *    quantizer drift, which no compact fixes. */
  final case class MaintenancePolicy(
      maxLiveGenerations: Int = 8,
      maxChunkDeadShare: Double = 0.3,
      maxBandDeadShare: Double = 0.3,
      maxLexicalDeadShare: Double = 0.3,
      maxKmvDeadShare: Double = 0.3,
      maxRegistryDeadShare: Double = 0.3,
      maxIvfCellShare: Double = 0.5,
      ivfRetrainRounds: Int = 5)

  /** One nightly maintenance call — the observe → decide → act loop
    * over every configured layout, completing the coordinator trilogy
    * ([[forget]], [[ingest]], maintain): read each layout's own
    * reports, run exactly the maintenance it needs, and return the
    * decision relation `(layout, metric, value, threshold, action)` —
    * the audit trail an operator reads after the nightly run.
    *
    * Crash-safe by recomputation: every action is snapshot-atomic and
    * epoch-fenced, and a re-run re-reads the state — a layout the
    * crash already compacted reports its post-compact metric and
    * decides `none`, layouts the crash skipped act now. The
    * generation-count and dead-share rules CONVERGE (their action
    * resets the metric, so the second call decides `none` — the spec
    * pins it); the IVF cell-share rule is a LEVEL trigger — genuinely
    * concentrated data stays concentrated after a retrain, so set the
    * threshold above the concentration the corpus actually has
    * (always ≥ 1/nlist by pigeonhole; the report shows the level).
    * Decision inputs are metadata-sized (commit records, the
    * nlist-row cell stats) or narrow one-row reports (the dead-chunk
    * and dead-row scans — and the dead-row scans only run while a
    * forget is actually pending, from metadata alone otherwise); the
    * actions are the corpus-sized passes, by the layout contracts. */
  def maintain(
      spark: SparkSession, layouts: CorpusLayouts,
      policy: MaintenancePolicy = MaintenancePolicy(),
      epochOf: String => Option[Long] = _ => None): DataFrame = {
    import spark.implicits._
    requireSharedBand(spark, layouts)
    type Decision = (String, String, Double, Double, String)
    def gens(p: String, dir: String): Int =
      LsmLayout.liveGenerationCount(spark, p, dir)
    def genRule(name: String, n: Int)(run: => Unit): Decision = {
      val act = n > policy.maxLiveGenerations
      if (act) run
      (name, "live_generations", n.toDouble,
        policy.maxLiveGenerations.toDouble, if (act) "compact" else "none")
    }
    // the dead-share rule, tried BEFORE the count rule (the chunk
    // branch's shape, uniform across the posting/sketch families): a
    // forget-heavy low-generation layout compacts on its dead mass.
    // Fast path: no pending tombstones (the common post-compact state)
    // → share 0 from metadata alone, no report scan runs.
    def deadOrGenRule(
        name: String, p: String, liveGenerations: => Int,
        threshold: Double, stats: => DataFrame)(run: => Unit): Decision = {
      val pending = LsmLayout.snapshot(spark, p).pendingTombstones.nonEmpty
      val share =
        if (!pending) 0.0
        else {
          val r = stats.head()
          val (liveN, deadN) = (r.getLong(0), r.getLong(1))
          if (liveN + deadN == 0L) 0.0
          else deadN.toDouble / (liveN + deadN).toDouble
        }
      if (share > threshold) {
        run
        (name, "dead_row_share", share, threshold, "compact")
      } else genRule(name, liveGenerations)(run)
    }
    // each layout's observe→decide→act chain is independent of every
    // other's (disjoint paths, per-layout epochs) — run the six
    // branches CONCURRENTLY and assemble the decision relation in the
    // canonical layout order (row content identical to the sequential
    // spelling; actions stay snapshot-atomic and epoch-fenced inside)
    val decisions: Seq[(String, String, Double, Double, String)] =
      Materialize.scoped(Overlap.join(spark)(
      (layouts.registry.map(p => () =>
        deadOrGenRule("registry", p, gens(p, s"$p/assignments"),
          policy.maxRegistryDeadShare,
          ClusterRegistry.deadRowStats(spark, p))(
          ClusterRegistry.compact(spark, p, epochOf(p)))) ++
      layouts.band.map(p => () =>
        deadOrGenRule("band", p, gens(p, s"$p/sigs"),
          policy.maxBandDeadShare, BandIndex.deadRowStats(spark, p))(
          BandIndex.compact(spark, p, epochOf(p)))) ++
      layouts.lexical.map(p => () =>
        deadOrGenRule("lexical", p, LexicalIndex.generationCount(spark, p),
          policy.maxLexicalDeadShare, LexicalIndex.deadRowStats(spark, p))(
          LexicalIndex.compact(spark, p, epochOf(p)))) ++
      layouts.kmv.map(p => () =>
        deadOrGenRule("kmv", p, gens(p, s"$p/sketches"),
          policy.maxKmvDeadShare, KmvLayout.deadRowStats(spark, p))(
          KmvLayout.compact(spark, p, epochOf(p)))) ++
      layouts.ivf.map { p => () =>
        val shares = IvfLayout.cellStats(spark, p)
          .select(col("share")).as[Double].collect()
        val mx = if (shares.isEmpty) 0.0 else shares.max
        if (mx > policy.maxIvfCellShare) {
          IvfLayout.retrain(spark, p, policy.ivfRetrainRounds,
            writerEpoch = epochOf(p))
          ("ivf", "max_cell_share", mx, policy.maxIvfCellShare, "retrain")
        } else genRule("ivf", gens(p, s"$p/vectors"))(
          IvfLayout.compact(spark, p, epochOf(p)))
      } ++
      layouts.chunks.map { p => () =>
        val r = ChunkStore.deadChunkStats(spark, p).head()
        val (live, dead) = (r.getLong(0), r.getLong(1))
        val share = if (live + dead == 0L) 0.0
          else dead.toDouble / (live + dead).toDouble
        if (share > policy.maxChunkDeadShare) {
          ChunkStore.compact(spark, p, epochOf(p))
          ("chunks", "dead_chunk_share", share,
            policy.maxChunkDeadShare, "compact")
        } else genRule("chunks", gens(p, s"$p/manifest"))(
          ChunkStore.compact(spark, p, epochOf(p)))
      }).toSeq))
    decisions
      .toDF("layout", "metric", "value", "threshold", "action")
  }

  /** The deletion-audit relation: per layout, how many of `auditIds`
    * any serving path still returns (must be 0 after [[forget]]) and
    * how many documents survive — the report a compliance check reads,
    * computed from the REAL serving paths, not the tombstone lists.
    * One row per configured layout. */
  def forgetAudit(
      spark: SparkSession, layouts: CorpusLayouts,
      auditIds: DataFrame, idCol: String): DataFrame =
    serveAudit(spark, layouts, auditIds, idCol, "forgotten_served")

  /** The ingest-completeness audit — the forward twin of
    * [[forgetAudit]]: per layout, how many of the batch's ids its
    * serving path returns (must equal the batch size, modulo each
    * layout's own content gates — e.g. the band/lexical shingle-width
    * minimum) and how many documents it serves in total. Catches the
    * partially-failed fan-out [[ingest]]'s retry contract exists for:
    * a layout the crash skipped shows `delta_served` short. One row
    * per configured layout, from the REAL serving paths. */
  def ingestAudit(
      spark: SparkSession, layouts: CorpusLayouts,
      deltaIds: DataFrame, idCol: String): DataFrame =
    serveAudit(spark, layouts, deltaIds, idCol, "delta_served")

  /** Cross-layout population-drift audit — the check [[forgetAudit]]/
    * [[ingestAudit]] cannot make: those prove ONE batch landed (or
    * left) everywhere; this compares each layout's FULL served doc
    * population against the registry's, so a layout that under-serves
    * from a pre-coordinator bug, a missed historical batch, or manual
    * surgery surfaces as a nonzero row instead of staying invisible
    * until some per-batch audit happens to cover the hole.
    *
    * Semantics per layout (one row each, `(layout, missing, extra)`):
    * the reference population is the registry's own serving relation,
    * with token counts from its stored ledger (which is what makes
    * the audit self-contained — the content gates need text). Band and
    * lexical compare against the reference docs meeting their OWN
    * stored shingle-width gate; KMV and chunks against docs with ≥ 1
    * token (their build chains emit nothing for empty text). The IVF
    * layout is vector-keyed: which docs SHOULD carry vectors is not
    * derivable from a text corpus, so its row reports `extra` only —
    * served vec_ids outside the registry population (a forgotten doc
    * whose vector survived IS detectable drift) — and missing = 0 by
    * construction. KMV rows are doc-comparable because the stored
    * sketches are per-(group, doc); group granularity is irrelevant.
    *
    * 100 TB shape: one narrow id scan per layout plus one full-outer
    * id join each — corpus-ID-sized, never text-sized, except the one
    * map-only token count over the stored ledger that feeds the gates.
    * Populations are corpus-sized on both sides, so the joins shuffle
    * ids by design (this is the periodic audit, not a serving path).
    *
    * Cache note: the reference population is persisted (every layout's
    * row reads it) and, the audit being a lazy frame, left to the runner
    * sweep ([[Materialize]]'s release contract). */
  def consistencyAudit(
      spark: SparkSession, layouts: CorpusLayouts,
      expected: Option[(DataFrame, String)] = None): DataFrame = {
    require(layouts.registry.isDefined,
      "consistencyAudit compares layouts against the registry " +
        "population — configure layouts.registry")
    val reg = layouts.registry.get
    // The reference population: the registry's own serving relation by
    // default — or, when the caller supplies an EXPECTED population
    // (the coordinator's ingest audit trail, an upstream manifest),
    // that anchor instead. The anchor closes the audit's one blind
    // spot (the r15 review's Missing #1): a doc lost from the registry
    // AND every other layout (a bad coordinated forget, a corrupted
    // base generation) is invisible to the self-referential compare
    // because the reference itself shrank — against an external
    // anchor it surfaces as `missing` on the registry row. Token
    // gates still come from the stored ledger, so an anchored doc the
    // corpus no longer holds text for coalesces to 0 tokens and is
    // expected only of the ungated (registry) population — the loss
    // is reported exactly once, not fabricated into every gated row.
    val basePop = expected match {
      case Some((df, idCol)) =>
        df.select(col(idCol).cast("string").as("graft__id")).distinct()
      case None =>
        ClusterRegistry.assignments(spark, reg)
          .select(col("doc_id").cast("string").as("graft__id"))
    }
    val ref = Materialize.shared(
      basePop
        .join(ClusterRegistry.ledger(spark, reg)
          .select(col("doc_id").cast("string").as("graft__id"),
            size(TextOps.tokens(col("text"))).as("graft__ntok")),
          Seq("graft__id"), "left")
        .select(col("graft__id"),
          coalesce(col("graft__ntok"), lit(0)).as("graft__ntok")))
    // string-typed key compare throughout (the serveAudit discipline)
    def served(df: DataFrame, c: String): DataFrame =
      df.select(col(c).cast("string").as("graft__id")).distinct()
    def diff(name: String, expected: DataFrame, s: DataFrame): DataFrame =
      expected.select(col("graft__id")).withColumn("graft__e", lit(1))
        .join(s.withColumn("graft__s", lit(1)), Seq("graft__id"),
          "full_outer")
        .agg(
          coalesce(sum(when(col("graft__s").isNull, 1L).otherwise(0L)),
            lit(0L)).as("missing"),
          coalesce(sum(when(col("graft__e").isNull, 1L).otherwise(0L)),
            lit(0L)).as("extra"))
        .select(lit(name).as("layout"), col("missing"), col("extra"))
    val parts =
      Seq(diff("registry", ref,
        served(ClusterRegistry.assignments(spark, reg), "doc_id"))) ++
      layouts.band.map { p =>
        val w = BandIndex.metaOf(spark, p)._3
        diff("band", ref.filter(col("graft__ntok") >= w),
          served(BandIndex.signatures(spark, p), "doc_id"))
      } ++
      layouts.lexical.map { p =>
        val w = LexicalIndex.layoutConstants(LsmLayout.snapshot(spark, p))._1
        diff("lexical", ref.filter(col("graft__ntok") >= w),
          served(LexicalIndex.postings(spark, p), "doc_id"))
      } ++
      layouts.kmv.map(p =>
        diff("kmv", ref.filter(col("graft__ntok") >= 1),
          served(KmvLayout.servedDocIds(spark, p), "doc_id"))) ++
      layouts.ivf.map { p =>
        // extra-only (class doc): expected := served ∩ reference, so
        // missing ≡ 0 and extra = served vec_ids outside the registry
        val s = served(IvfLayout.vectors(spark, p), "vec_id")
        diff("ivf",
          s.join(ref.select(col("graft__id")), Seq("graft__id"),
            "left_semi"),
          s)
      } ++
      layouts.chunks.map(p =>
        diff("chunks", ref.filter(col("graft__ntok") >= 1),
          served(ChunkStore.servedDocIds(spark, p), "doc_id")))
    parts.reduce(_ unionByName _)
  }

  /** Corpus-level time travel over the layouts that keep
    * generation-stamped immutable history (the registry's assignment
    * log, the KMV sketch generations, and the chunk store's
    * seq-stamped manifests — the s54/s43/s65 pins, fanned out): per
    * layout, the served doc population at ingest generation `gen` and
    * now — the drift report an operator reads before replaying a
    * pipeline against a pinned corpus state.
    *
    * Generation numbers ALIGN across coordinated layouts by
    * construction: every layout derives them through the SAME
    * ingest ordinal of their commit records (it never restarts at a
    * compact, even one layout compacting INDEPENDENTLY under
    * [[maintain]]), all start at 0 at build, and [[ingest]]
    * delivers every batch to every configured layout — so "generation
    * g" names the same ingest everywhere, forever. The shared caveats:
    * GDPR tombstones apply to every pin (a delete reaches time-travel
    * reads). Pin strength differs by what each layout stores: KMV and
    * chunk pins are MEMBERSHIP-EXACT across compacts (per-row
    * gen/seq stamps survive the fold); the registry's pin collapses to
    * the post-compact state once its mutable assignment values fold
    * (documented at [[ClusterRegistry.assignments]]). Layouts without
    * stored history (band/lexical/IVF serve only the present) are
    * absent by design, not silently wrong. */
  def asOfAudit(
      spark: SparkSession, layouts: CorpusLayouts, gen: Long): DataFrame = {
    require(layouts.registry.isDefined || layouts.kmv.isDefined ||
      layouts.chunks.isDefined,
      "asOfAudit needs at least one history-keeping layout " +
        "(registry, kmv, or chunks)")
    def row(name: String, asof: DataFrame, now: DataFrame): DataFrame =
      asof.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("served_asof"))
        .crossJoin(now.agg(
          org.apache.spark.sql.functions.count(lit(1)).as("served_now")))
        .select(lit(name).as("layout"),
          col("served_asof"), col("served_now"))
    val parts =
      layouts.registry.map(p => row("registry",
        ClusterRegistry.assignments(spark, p, Some(gen)),
        ClusterRegistry.assignments(spark, p))).toSeq ++
      layouts.kmv.map(p => row("kmv",
        KmvLayout.servedDocIds(spark, p, Some(gen)),
        KmvLayout.servedDocIds(spark, p))) ++
      layouts.chunks.map(p => row("chunks",
        ChunkStore.servedDocIds(spark, p, Some(gen)),
        ChunkStore.servedDocIds(spark, p)))
    parts.reduce(_ unionByName _)
  }

  private def serveAudit(
      spark: SparkSession, layouts: CorpusLayouts,
      auditIds: DataFrame, idCol: String, matchName: String): DataFrame = {
    val ids = broadcast(
      auditIds.select(col(idCol).cast("string").as("graft__fid")))
    // string-typed key compare: the layouts key differently (doc ids,
    // group names, vec ids) — a silent numeric/string coercion must
    // not be possible
    def audit(name: String, served: DataFrame, docCol: String): DataFrame =
      served.select(col(docCol).cast("string").as("graft__d")).distinct()
        .join(ids, col("graft__d") === col("graft__fid"), "left")
        .agg(
          sum(when(col("graft__fid").isNotNull, 1L).otherwise(0L))
            .as(matchName),
          count(lit(1)).as("survivors"))
        .select(lit(name).as("layout"),
          col(matchName), col("survivors"))
    val parts =
      layouts.registry.map(p => audit("registry",
        ClusterRegistry.assignments(spark, p), "doc_id")).toSeq ++
      layouts.band.map(p => audit("band",
        BandIndex.signatures(spark, p), "doc_id")) ++
      layouts.lexical.map(p => audit("lexical",
        LexicalIndex.postings(spark, p), "doc_id")) ++
      layouts.kmv.map(p => audit("kmv",
        KmvLayout.sketches(spark, p), "group")) ++
      layouts.ivf.map(p => audit("ivf",
        IvfLayout.vectors(spark, p), "vec_id")) ++
      // id-only accessor, NOT reconstruct: survivorship is determined
      // by the narrow manifest relation — the audit must not reassemble
      // every document's text just to distinct the ids
      layouts.chunks.map(p => audit("chunks",
        ChunkStore.servedDocIds(spark, p), "doc_id"))
    parts.reduce(_ unionByName _)
  }
}
