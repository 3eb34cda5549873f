package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup CLUSTER maintenance with STABLE ids — the
  * production question [[BandIndex.probe]]'s pairs feed: as batches
  * arrive, every document must hold a cluster assignment that (a)
  * equals what a from-scratch batch clustering over the union corpus
  * would produce, and (b) never renames a cluster except by merging
  * (ids are the MIN doc id ever seen in the cluster, so an id can only
  * ever decrease, and only when two clusters genuinely merge).
  * Re-clustering the corpus per batch is the n50 anti-pattern; this
  * registry does delta-sized work per batch.
  *
  * Layout under `path`:
  *  - `band/` — a [[BandIndex]] over everything ingested (the probe
  *    side of each batch); shares the registry's tombstone/compact
  *    lifecycle below;
  *  - `assignments/` (doc_id, cluster_id, gen) partitioned by `batch`
  *    — LSM: the `base` generation holds ≤1 row per doc (the build, or
  *    the last [[compact]]'s fold); every ingest APPENDS a generation
  *    of delta assignments plus re-mapping rows for absorbed clusters
  *    (bounded by the absorbed clusters, not the corpus). Reads fold
  *    base + the recent-generation overlay (see [[assignments]]);
  *  - `ledger/` (doc_id, text) partitioned by (`batch`, `bucket`) —
  *    the LAYOUT-OWNED text ledger candidate verification rehydrates
  *    from (the build set under `base`, each ingest's delta under its
  *    batch id — the same LSM discipline as the assignments). The
  *    registry used to require the caller to assemble and pass the
  *    full ledger on every ingest; a stale or partial caller copy
  *    produced silently WRONG cluster merges (candidate pairs whose
  *    corpus text was missing dropped at the exact-verify join) —
  *    exactly the silent contract drift the coordinator exists to
  *    kill, so the state now lives with the index. `bucket` =
  *    pmod(hex60(doc_id), ledger_buckets) is the 100 TB rehydration
  *    lever owning the ledger unlocks: the verify stage needs the
  *    TEXT of candidate ids only, and with the ledger hash-bucketed
  *    the candidate→text semi-join DYNAMICALLY PRUNES the scan to the
  *    candidate ids' bucket directories (plan-pinned) — a small
  *    micro-batch reads a few buckets of text, never the corpus
  *    (a caller-passed corpus relation could never be pruned this
  *    way: the layout controls its own physical design). GDPR reaches
  *    the ledger: reads anti-join the tombstones and [[compact]]
  *    drops forgotten rows physically like every relation;
  *  - `tombstones/` (doc_id) partitioned by delete batch — the forget
  *    set every read anti-joins (the s40/s45 GDPR discipline);
  *    [[compact]] drops the rows physically.
  *
  * Ingest algebra (exact, not heuristic): the delta's near-dup pairs
  * against the indexed corpus collapse the corpus side to its CLUSTER
  * id (clusters are internally connected by construction, so one
  * vertex per touched cluster suffices), within-delta pairs join as
  * delta–delta edges, and connected components over that SMALL graph
  * (delta + touched clusters) give each component's new id as the min
  * vertex — which IS the min member doc id of the merged component,
  * because every cluster-id vertex is already the min of its members.
  * Untouched clusters never appear in the graph, so their rows are
  * never rewritten. Gated: n177 proves build∘ingest(with retry AND
  * marker-less replay) ≡ the batch recursive-closure clustering over
  * the union corpus, singletons included; n178 gates the multi-batch
  * foreachBatch loop shape (with a mid-stream replay) and
  * ClusterRegistrySpec drives the real MemoryStream loop.
  *
  * DELETION SEMANTICS (the stable-id design question, pinned): a
  * forgotten doc's assignment row and its band postings/signatures are
  * tombstoned at once ([[forget]]) and dropped physically at
  * [[compact]] — the per-doc facts a GDPR request targets are gone
  * from every serving path immediately. Cluster TOPOLOGY, however, is
  * retained:
  *  - ids are NOT re-minted when the min-member doc is forgotten — id
  *    stability is the operator's contract (downstream joins key on
  *    it); a cluster id is an opaque stable token that need not name a
  *    live member. [[canonicalAssignments]] serves the live-member
  *    naming (min REMAINING member) when a rebuild-comparable view is
  *    needed.
  *  - merges established through a later-forgotten doc are NOT
  *    re-split: transitive-closure evidence is monotone, and
  *    tombstone-at-read cannot split a component (splitting would need
  *    the forgotten doc's pair evidence — exactly the data deletion
  *    removed). The serve contract is therefore: the partition of
  *    SURVIVORS equals the closure over everything ever ingested,
  *    restricted to survivors — which is what the s52 oracle computes
  *    closed-form, and what ClusterRegistrySpec's bridge fixture pins
  *    as the documented divergence from a from-scratch rebuild.
  *
  * Idempotent per the [[LsmLayout]] contract; the probe excludes the
  * batch's own band generation (a crashed first attempt may have
  * appended it — the delta must not probe against itself on replay).
  * Same LSH probabilistic caveat as [[MinHashNearDup]]/s37; final
  * pairs are exact-verified, so only candidate surfacing is
  * probabilistic.
  *
  * 100 TB shape: per batch — delta-sized sketching, a band join
  * against pruned posting partitions, candidate-sized verify,
  * CC over a (delta + touched clusters)-sized graph, and appends
  * bounded by |delta| + |absorbed clusters|. The registry fold reads
  * the compacted base WITHOUT re-shuffling it (the recent overlay
  * anti-joins as a broadcast), so per-ingest fold cost is
  * delta+merge-sized; `compactAfterGenerations` bounds how large the
  * overlay can grow (size the policy to the broadcast budget). The
  * generation number derives from directory metadata (one listStatus),
  * never a data scan.
  */
object ClusterRegistry {

  private val BaseBatch = "base"

  /** The ledger's bucket function — the PORTABLE md5-derived hash (an
    * engine-local hash could not be re-derived by an external reader),
    * computed from the id's STRING form so the same value buckets
    * identically whatever the caller's id type. Write side and probe
    * side both derive through here, so they cannot drift. */
  private[graft] def ledgerBucket(
      id: org.apache.spark.sql.Column, buckets: Int) =
    pmod(TextOps.hexHash60(id.cast("string")), lit(buckets.toLong))

  /** `ledgerBuckets` sizes the rehydration pruning unit (see the class
    * doc): a micro-batch verify reads ~candidate-buckets/buckets of
    * the ledger text. Size it so one bucket's text fits a task
    * comfortably — the default suits the test scales; a 100 TB corpus
    * wants O(10k). Stored in `meta/`, so every later ingest derives
    * the same buckets (the self-describing-index lesson). */
  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.8,
      ledgerBuckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    LsmLayout.startIndexLife(spark, path)
    // ONE corpus sketch feeds both the index build and the batch
    // clustering (previously each ran its own scan→shingle→sketch
    // chain over the full corpus). The geometry comes from BandIndex's
    // own default constants — the single source of truth — so the
    // shared sketch can never disagree with the stored index meta.
    val sk = Materialize.shared(BandIndex.sketchRelation(
      docs, idCol, textCol,
      shingleWidth = BandIndex.DefaultShingleWidth,
      numHashes = BandIndex.DefaultNumHashes,
      bands = BandIndex.DefaultBands))
    // the four build relations are pairwise disjoint (band/, the
    // assignment base, ledger/, meta/), so the index build and the
    // text-ledger write run CONCURRENTLY with the clustering chain —
    // the wall is the longest of the three, not their sum. Racing
    // consumers of the shared sketch are safe: cached partitions are
    // computed once under the block manager's per-block lock.
    val bandFut = Overlap.future(spark)(
      Trace("reg.build:band")(BandIndex.build(docs, idCol, textCol,
        s"$path/band", preSketched = Some(sk))))
    // the one-row meta literal is disjoint from every other relation —
    // launched with the fan-out instead of serializing after it (a
    // crashed partial build was never servable in any ordering; ingest
    // fails loudly on a missing meta either way)
    val metaFut = Overlap.future(spark)(
      spark.range(1)
        .select(lit(threshold).as("threshold"),
          lit(ledgerBuckets.toLong).as("ledger_buckets"))
        .write.mode("overwrite").parquet(s"$path/meta"))
    // the layout-owned text ledger starts with the build set — from
    // here on, ingests are self-contained (delta-only). Bucketed for
    // rehydration pruning; repartitioned by bucket so each task writes
    // one bucket directory (no small-files fan-out).
    val ledgerFut = Overlap.future(spark)(
      Trace("reg.build:ledger")(docs
        .select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .withColumn("bucket", ledgerBucket(col("doc_id"), ledgerBuckets))
        .repartition(col("bucket"))
        .withColumn("batch", lit(BaseBatch))
        .write.mode("overwrite").partitionBy("batch", "bucket")
        .parquet(s"$path/ledger")))
    try {
      val comp = Trace("reg.build:components")(DedupClusters.components(
        MinHashNearDup.pairsFromSketched(sk, threshold,
          numHashes = BandIndex.DefaultNumHashes),
        "id_a", "id_b"))
        .select(col("id").as("doc_id"), col("comp"))
      Trace("reg.build:assignments")(docs.select(col(idCol).as("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        .withColumn("gen", lit(0L))
        .withColumn("batch", lit(BaseBatch))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$path/assignments"))
      Overlap.await(bandFut)
      Overlap.await(ledgerFut)
      Overlap.await(metaFut)
    } catch {
      case e: Throwable =>
        Overlap.settle(bandFut)
        Overlap.settle(ledgerFut)
        Overlap.settle(metaFut)
        throw e
    }
  }

  /** The stored text ledger of every SURVIVING doc — what candidate
    * verification rehydrates from, and what a forgotten doc's text
    * physically leaves at [[compact]]. Same read discipline as every
    * ledger-shaped relation: live generations under one snapshot,
    * pending tombstones anti-joined broadcast. */
  def ledger(spark: SparkSession, path: String): DataFrame =
    ledgerScoped(spark, path, None, LsmLayout.snapshot(spark, path))
      .drop("bucket")

  /** The ledger WITH its physical bucket column (long-cast: partition
    * directory values infer as int) — what the rehydration pruning
    * joins against. */
  private[graft] def ledgerBucketed(
      spark: SparkSession, path: String): DataFrame =
    ledgerScoped(spark, path, None, LsmLayout.snapshot(spark, path))

  private def ledgerScoped(
      spark: SparkSession, path: String,
      excludeBatch: Option[String], snap: LayoutSnapshot): DataFrame = {
    // the ledger tracks its own fold state (a compact may fold the
    // assignment log while skipping the corpus-sized ledger rewrite)
    val live = LsmLayout.liveGenerationNames(spark, s"$path/ledger",
        "batch=", snap.ledgerView)
      .filterNot(excludeBatch.contains)
    ledgerFromNames(spark, path, live, snap)
  }

  /** The ledger read over an ALREADY-LISTED live-generation name set —
    * callers that also need the names for a byte-budget decision
    * (ingest's rehydration gate) list once and reuse. */
  private def ledgerFromNames(
      spark: SparkSession, path: String,
      live: Seq[String], snap: LayoutSnapshot): DataFrame = {
    val rows = LsmLayout.readGenerations(spark, s"$path/ledger", "batch=",
        live)
      .select(col("doc_id"), col("text"),
        col("bucket").cast("long").as("bucket"))
    LsmLayout.antiJoinTombstones(spark, path, snap, rows, "doc_id")
  }

  /** The current assignment of every SURVIVING doc. Read shape: the
    * compacted `base` generation already holds ≤1 row per doc, so only
    * the recent (post-compact) generations need the latest-wins fold —
    * a delta+merge-sized aggregate whose doc ids then anti-join the
    * base scan as a BROADCAST (the ChunkStore.refresh membership
    * discipline: the corpus-sized base never enters an exchange).
    * Tombstoned docs are dropped from every read.
    *
    * `asOf` gives SNAPSHOT ISOLATION for free (the KmvLayout s43
    * discipline): generations are immutable appends stamped with a
    * monotone number, so "the registry as of generation g" — the
    * cluster state after the g-th ingest, including exactly the
    * merges it caused — is a filter on the fold, not a restore.
    * Tombstones apply to every snapshot (a GDPR delete reaches
    * time-travel reads too); a [[compact]] collapses history, after
    * which pins address the post-compact state only. */
  def assignments(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame =
    assignmentsScoped(spark, path, None, asOf)

  private def assignmentsScoped(
      spark: SparkSession, path: String,
      excludeBatch: Option[String],
      asOf: Option[Long] = None,
      snapOpt: Option[LayoutSnapshot] = None): DataFrame = {
    val dir = s"$path/assignments"
    // ONE snapshot resolution per read: the base pointer, the
    // recent-overlay name set and the pending forget-set all come from
    // the same committed manifest, so a compact flipping mid-read is
    // invisible (pre- or post-compact state, never a mix). A caller
    // that already resolved the snapshot for its own decisions (the
    // ingest path) hands it in, so one maintenance call reads ONE
    // manifest resolution everywhere.
    val snap = snapOpt.getOrElse(LsmLayout.snapshot(spark, path))
    // committed LIVE generation NAMES from directory metadata — also
    // what keeps the recent-overlay scan pinned to the non-base
    // partitions (folded generations awaiting GC are invisible)
    val recentNames = LsmLayout.liveGenerationNames(spark, dir, "batch=", snap)
      .filterNot(_ == snap.base)
      .filterNot(excludeBatch.contains)
    val base = LsmLayout.readGenerations(spark, dir, "batch=", Seq(snap.base))
      .select(col("doc_id"), col("cluster_id"))
    val folded =
      if (recentNames.isEmpty) base
      else {
        val recent = LsmLayout.readGenerations(spark, dir, "batch=",
          recentNames)
        val overlay = Materialize.shared(
          asOf.fold(recent)(g => recent.filter(col("gen") <= g))
            .groupBy(col("doc_id"))
            .agg(max(struct(col("gen"), col("cluster_id"))).as("graft__l"))
            .select(col("doc_id"),
              col("graft__l.cluster_id").as("cluster_id")))
        // the overlay broadcast is bounded by the BUDGET, not just by
        // policy: a mis-sized compactAfterGenerations (or a long
        // compact-free ingest run) grows the overlay until it would
        // exceed the driver's broadcast memory — past the budget the
        // anti-join falls back to a shuffle (same answer, bounded
        // memory). The generation bytes on disk upper-bound the
        // deduplicated overlay relation.
        val overlayBytes = LsmLayout.dirBytes(spark, dir, recentNames, "batch=")
        base
          .join(LsmLayout.hintBroadcast(
            overlay.select(col("doc_id")), overlayBytes),
            Seq("doc_id"), "left_anti")
          .unionByName(overlay)
      }
    LsmLayout.antiJoinTombstones(spark, path, snap, folded, "doc_id")
  }

  /** The rebuild-comparable naming view: every cluster renamed to its
    * min SURVIVING member. [[assignments]]'s raw ids are the stable
    * tokens downstream joins key on; this view is what compares
    * against a from-scratch clustering (the s52 oracle) after deletes
    * may have forgotten a cluster's original min member. One
    * clusters-keyed agg + an equi-join that reuses its exchange. */
  def canonicalAssignments(spark: SparkSession, path: String): DataFrame = {
    val a = Materialize.shared(assignments(spark, path))
    val canon = a.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("graft__canon"))
    a.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("graft__canon").as("cluster_id"))
  }

  /** Ingest one batch: assign every delta doc a cluster id and merge
    * any corpus clusters the delta bridges. SELF-CONTAINED — the call
    * takes ONLY the delta: candidate verification rehydrates corpus
    * text from the layout-owned [[ledger]] (the delta's text is
    * appended to it as this batch's generation), so no caller-assembled
    * corpus relation exists to go stale or partial.
    *
    * CONTRACTS: delta doc ids must be NEW (the re-ingest contract
    * shared with the other layouts). Forgotten docs never surface as
    * candidates (band tombstones + the ledger's tombstone anti-join).
    * `compactAfterGenerations` (0 = off) triggers [[compact]] when the
    * committed generation count exceeds the threshold (the s46
    * policy). `writerEpoch` is the [[LsmLayout]] single-writer fence.
    */
  def ingest(
      delta: DataFrame, idCol: String, textCol: String,
      path: String, batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    LsmLayout.requireValidBatchId(batchId)
    // the delta is sketched ONCE (with the index's own meta) for all
    // three consumers — the index probe, the within-delta pair join
    // and the index append; the relation is delta-sized and shared
    // (previously each consumer re-ran the scan→shingle→sketch chain)
    lazy val bandMeta = BandIndex.metaOf(spark, s"$path/band")
    lazy val deltaSketch: DataFrame = {
      val (numHashes, bands, shingleWidth) = bandMeta
      Materialize.shared(BandIndex.sketchRelation(
        delta, idCol, textCol, shingleWidth, numHashes, bands))
    }
    if (!LsmLayout.isApplied(spark, path, batchId)) {
      // fence BEFORE the first mutation: a superseded writer used to
      // land its ledger generation before the first epoch check (the
      // pre-existing write-then-fence pattern, extended to corpus
      // text) — now it is rejected before touching any relation
      LsmLayout.requireCurrentEpoch(spark, path, writerEpoch)
      val metaRow = Trace("reg.ingest:meta")(
        LsmLayout.cachedMetaRow(spark, s"$path/meta"))
      val threshold = metaRow.getAs[Double]("threshold")
      // MIGRATION NOTE: layouts built before the layout-owned ledger
      // (round 15) carry no `ledger_buckets` in meta and no ledger/
      // relation — delta-only ingest cannot rehydrate candidate text
      // from them; fail with the remedy instead of an opaque getAs
      require(metaRow.schema.fieldNames.contains("ledger_buckets"),
        s"registry at $path predates the layout-owned text ledger " +
          "(meta lacks ledger_buckets) — re-build the registry with " +
          "ClusterRegistry.build to start an owned-ledger index life")
      val ledgerBuckets = metaRow.getAs[Long]("ledger_buckets").toInt
      // ONE snapshot resolution for the whole ingest: appends never
      // flip the manifest (only compacts do, and the writer fence
      // serializes those), so the ordinal, the probe's read scope and
      // the fold below all see the same committed state.
      val snapNow = LsmLayout.snapshot(spark, path)
      // append the delta's text to the layout-owned ledger (its own
      // batch-keyed generation — dynamic overwrite, so a partial first
      // attempt is replaced bit-for-bit on retry). Runs CONCURRENTLY
      // with the probe below: the probe reads the ledger EXCLUDING
      // this generation (explicit live-generation paths), so the
      // write's target directory is invisible to every concurrent
      // read — the replay input is the state before the batch either
      // way, appended or mid-append.
      val ledgerFut = Overlap.future(spark)(
        Trace("reg.ingest:ledger-append")(LsmLayout.writeGeneration(
          delta
            .select(col(idCol).as("doc_id"), col(textCol).as("text"))
            .withColumn("bucket", ledgerBucket(col("doc_id"), ledgerBuckets))
            .repartition(col("bucket"))
            .withColumn("batch", lit(batchId)),
          s"$path/ledger", "batch", "bucket")))
      var bandFut: Overlap.Task[Unit] = null
      try {
        // the probe corpus keeps the ledger's PHYSICAL bucket column
        // and hands the bucket function to the verify stage, so the
        // candidate-text semi-join dynamically prunes the ledger scan
        // to the candidate buckets — the rehydration reads
        // candidate-bucket text, never the corpus (plan-pinned in
        // ClusterRegistrySpec). BYTE-GATED (the hintBroadcast
        // discipline): while the ledger is small, one full text scan
        // beats the pruning machinery's fixed cost (the dynamic-
        // pruning subquery + bucket-keyed join), so the hint engages
        // only past the threshold — measured: the un-gated hint cost
        // ~+3.5 s per small-corpus ingest for a scan it could not
        // meaningfully shrink. The live names are listed ONCE and feed
        // both the read and the byte gate.
        val ledgerLive = LsmLayout.liveGenerationNames(
          spark, s"$path/ledger", "batch=", snapNow.ledgerView)
          .filterNot(_ == batchId)
        val corpus = ledgerFromNames(spark, path, ledgerLive, snapNow)
          .select(col("doc_id").as(idCol), col("text").as(textCol),
            col("bucket").as("graft__lbucket"))
        val ledgerBytes = LsmLayout.dirBytes(spark, s"$path/ledger",
          ledgerLive, "batch=")
        val bucketHint =
          if (ledgerBytes > LsmLayout.rehydrationPruneBytes)
            Some(("graft__lbucket",
              (id: org.apache.spark.sql.Column) =>
                ledgerBucket(id, ledgerBuckets)))
          else None
        // the generation number = the metadata-monotone ingest ordinal
        // (shared spelling): never restarts at a compact — folded names
        // accumulate in the snapshot, so the ordinal keeps counting and
        // stays ALIGNED with the coordinator's other layouts even when
        // one layout compacts independently under maintain() — identical
        // under retry (own dir excluded), and never a data scan
        val nextGen = LsmLayout.committedGenerationOrdinal(
          spark, s"$path/assignments", "batch=", snapNow, batchId)
        // the registry state as of BEFORE this batch: a marker-less
        // replay would otherwise read its own (possibly partial) first
        // attempt's generation — e.g. an already-applied merge re-map —
        // and recompute a DIFFERENT row set, which the dynamic overwrite
        // would then replace the full generation with (dropping the
        // re-map). Excluding the batch's own partition makes the replay
        // input identical to the first attempt's, so the overwrite is a
        // bit-for-bit replacement. (The same discipline as the band
        // probe's excludeGen below and the KMV gen derivation.)
        val reg = assignmentsScoped(spark, path, Some(batchId),
          snapOpt = Some(snapNow))
        // delta ↔ indexed-corpus pairs, corpus side collapsed to its
        // cluster id; the probe skips this batch's own (possibly
        // partially appended) band generation so replays are
        // deterministic
        // materialized ONCE: the edge list feeds BOTH the component
        // resolution and the absorbed-cluster remap below — un-shared,
        // `touched` re-executed the entire probe pipeline (band join,
        // prefilter, ledger rehydration, exact verify) a second time per
        // ingest (measured: ~1.5 s of the 6 s sf0.1 ingest wall)
        val edgesDC = Materialize.shared(BandIndex.probe(
          corpus, delta, idCol, textCol, s"$path/band", threshold,
          excludeGen = Some(batchId), preSketched = Some(deltaSketch),
          corpusBucket = bucketHint)
          .join(reg.withColumnRenamed("doc_id", "corpus_id"), Seq("corpus_id"))
          .select(col("delta_id").as("u"), col("cluster_id").as("v")))
        val edgesDD = MinHashNearDup
          .pairsFromSketched(deltaSketch, threshold,
            numHashes = bandMeta._1)
          .select(col("id_a").as("u"), col("id_b").as("v"))
        val comp = Trace("reg.ingest:components")(
          Materialize.shared(DedupClusters.components(
            edgesDC.unionByName(edgesDD), "u", "v")))
        // index the batch into the band layout CONCURRENTLY with the
        // assignment-generation work below: the two touch disjoint
        // relations (band/sigs+postings vs assignments), and the band
        // append commits its own applied marker after its own writes,
        // so every crash interleaving is one the marker-gated retry
        // already repairs. Launched HERE, not with the ledger append:
        // the gen-write window below is commit-latency-bound, so the
        // band's two delta-sized writes hide in it for free, whereas an
        // earlier launch contends with the probe/components chain's
        // CPU-bound critical path (a back-to-back drill read the early
        // launch ~0.2 s/ingest slower; the variants sit within the
        // box's noise band, so the non-contending site stays).
        // Safe consumption of the shared delta sketch either way — a
        // racing first consumer computes cached partitions once under
        // the block manager's per-block lock (the lazy val itself
        // synchronizes initialization).
        bandFut = Overlap.future(spark)(Trace("reg.ingest:band-append")(
          BandIndex.append(delta, idCol, textCol, s"$path/band", batchId,
            writerEpoch = writerEpoch, preSketched = Some(deltaSketch))))
        // delta assignments: component min if paired, else singleton
        val deltaAssign = delta.select(col(idCol).as("doc_id"))
          .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        // absorbed clusters: a cluster-id vertex whose component is
        // smaller re-maps ALL its members (bounded by the absorbed
        // clusters — the merge appends, never rewrites the registry)
        val touched = edgesDC.select(col("v").as("id")).distinct()
        val remapTargets = comp
          .join(broadcast(touched), Seq("id"), "left_semi")
          .filter(col("comp") < col("id"))
          .select(col("id").as("cluster_id"), col("comp"))
        val remapRows = reg
          .join(broadcast(remapTargets), Seq("cluster_id"))
          .select(col("doc_id"), col("comp").as("cluster_id"))
        // the (delta+absorbed-sized) generation is written DIRECTLY:
        // its plan reads only explicit live-generation paths that
        // exclude this batch's own partition, and the dynamic
        // overwrite replaces only batch=<id> — read and write sets are
        // disjoint by construction (the compact() ledger-fold
        // argument). The old eager checkpoint paid one extra
        // materialization pass per ingest to exclude a hazard the
        // explicit-path read shape already excludes; the heavy
        // subtrees (edges, components, the fold overlay) are persisted
        // above, so the write job re-executes none of them.
        Trace("reg.ingest:gen-write")(LsmLayout.writeGeneration(
          deltaAssign.unionByName(remapRows)
            .withColumn("gen", lit(nextGen))
            .withColumn("batch", lit(batchId)),
          s"$path/assignments", "batch"))
        // the ledger AND band generations must be committed before the
        // batch is marked applied (the marker asserts EVERY registry
        // relation — assignments, ledger, internal band — holds the
        // batch; the band await costs nothing extra here, its writes
        // overlapped the gen-write window)
        Overlap.await(ledgerFut)
        Overlap.await(bandFut)
        LsmLayout.commitApplied(spark, path, batchId, writerEpoch)
      } catch {
        case e: Throwable =>
          // settle in-flight writes before surfacing: no background
          // mutation may still be landing when the caller handles the
          // failure (the retry contract assumes a quiesced layout)
          Overlap.settle(ledgerFut)
          if (bandFut != null) Overlap.settle(bandFut)
          throw e
      }
    } else {
      // the next batch must see this one in the band index (its own
      // idempotency marker lives inside BandIndex); a clean retry whose
      // registry half short-circuited only sketches if the band half
      // actually needs to run (it checks its own marker first)
      Trace("reg.ingest:band-append")(
        BandIndex.append(delta, idCol, textCol, s"$path/band", batchId,
          writerEpoch = writerEpoch,
          preSketched =
            if (LsmLayout.isApplied(spark, s"$path/band", batchId)) None
            else Some(deltaSketch)))
    }
    // file-count + overlay-size hygiene (the s46 policy): the fold's
    // broadcast overlay grows with every generation until a compact
    // folds it into base — one listStatus, no data read
    LsmLayout.autoCompact(spark, path, s"$path/assignments", "batch=",
      compactAfterGenerations, writerEpoch)(compact(spark, path, _))
  }

  /** One-row `(n_live, n_dead)` over the physically-present assignment
    * rows vs the snapshot's PENDING forget-set — the data-aware
    * compact-decision input for the registry/ledger family (the s61
    * `deadRowStats` pattern, closing its last gap): a forget-heavy
    * ONE-generation registry carries dead assignment rows and dead
    * ledger text that reads still anti-join (and rehydrations past the
    * byte gate still scan) with no generation count ever tripping the
    * policy. One narrow id-column scan + the budget-guarded tombstone
    * join; ledger rows are 1:1 with assignment rows per batch, so the
    * assignment share prices the stored text's dead mass too. */
  def deadRowStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/assignments", "batch=", snap)
    LsmLayout.deadRowStats(spark, path, snap,
      LsmLayout.readGenerations(
        spark, s"$path/assignments", "batch=", live)
        .select(col("doc_id")),
      "doc_id")
  }

  /** Right-to-be-forgotten deletes: tombstone the doc's assignment row
    * AND its band postings/signatures in one call — forget-set-sized
    * work; every serving path (the fold, the canonical view, the next
    * ingest's probe and remap) is blind to the doc immediately, and
    * [[compact]] drops the rows physically. Ids/topology retention is
    * the class-doc contract. Idempotent at both levels. */
  def forget(
      forgetIds: DataFrame, idCol: String,
      path: String, batchId: String,
      writerEpoch: Option[Long] = None): Unit = {
    LsmLayout.tombstoneIds(forgetIds, idCol, "doc_id", path, batchId,
      writerEpoch)
    // the probe side must forget too (its own marker, under band/)
    BandIndex.tombstone(forgetIds, idCol, s"$path/band", batchId,
      writerEpoch = writerEpoch)
  }

  /** Fold the assignment log back to one base generation (≤1 row per
    * doc, folded rows stamped gen 0 so any later overlay generation
    * wins the read fold; the ingest ORDINAL itself never restarts —
    * the monotone-ordinal contract, so pins stay aligned across
    * layouts) and drop tombstoned docs physically, here
    * and in the internal band index — SNAPSHOT-ATOMICALLY for
    * concurrent readers: the fold lands in a brand-new immutable
    * `base-<id>` generation, one manifest flip makes it (and the
    * now-applied tombstones) visible, and only directories the
    * PREVIOUS snapshot had already stopped referencing are deleted, so
    * a reader holding either snapshot sees exactly the pre- or
    * post-compact answer. Applied markers are KEPT (a late retry of a
    * folded batch must still no-op). `writerEpoch` fences the flip and
    * the GC (a superseded writer's compact could otherwise silently
    * drop the new owner's GDPR tombstones). Restores the read fold to
    * its cheapest shape: base-only, no overlay. */
  def compact(
      spark: SparkSession, path: String,
      writerEpoch: Option[Long] = None): Unit = {
    // The corpus-sized ledger rewrite is the second fold track: it runs
    // only when it has WORK to do (pending tombstones — forgotten text
    // must leave the stored ledger physically at compact — or past the
    // hygiene bound, [[LsmLayout.foldDue]]). Ledger reads prune by hash
    // bucket and read explicit generation paths, so extra ledger
    // generations cost directory fan-out, not scan bytes — unlike
    // assignment generations, they do NOT grow the read fold's overlay.
    // A generation-count-triggered compact therefore folds the (small)
    // assignment log WITHOUT rewriting the stored corpus text: at
    // 100 TB that is the difference between an assignment-sized
    // maintenance op and a full-corpus text pass on every policy trip.
    // Both folds read explicit live-generation paths and write only the
    // just-cleared batch=<newBase> directories, so read and write sets
    // are disjoint by construction — no checkpoint needed — and they
    // touch disjoint relations, so they OVERLAP.
    LsmLayout.snapshotCompact(spark, path, writerEpoch,
      rels = Seq((s"$path/assignments", "batch=")),
      secondary = Seq((s"$path/ledger", "batch="))) { fold =>
      Seq(() => Trace("reg.compact:fold-write")(LsmLayout.writeGeneration(
        assignmentsScoped(spark, path, None, snapOpt = Some(fold.snap))
          .withColumn("gen", lit(0L))
          .withColumn("batch", lit(fold.newBase)),
        s"$path/assignments", "batch"))) ++
      (if (fold.foldSecondary)
        Seq(() => Trace("reg.compact:ledger-fold")(LsmLayout.writeGeneration(
          ledgerScoped(spark, path, None, fold.snap)
            .repartition(col("bucket"))
            .withColumn("batch", lit(fold.newBase)),
          s"$path/ledger", "batch", "bucket")))
      else Seq.empty)
    }
    // the internal band index folds on the SAME rule as the ledger:
    // probes read explicit live generation paths (postings carry
    // per-doc facts, never an overlay fold like the assignments), so
    // folding buys file hygiene, not read shape
    val bandPath = s"$path/band"
    LsmLayout.compactWhenDue(spark, bandPath,
      BandIndex.foldedRelations(bandPath))(
      Trace("reg.compact:band")(
        BandIndex.compact(spark, bandPath, writerEpoch)))
  }
}
