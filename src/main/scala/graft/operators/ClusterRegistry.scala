package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *    side of each batch), private or shared. PRIVATE (the default) it
  *    lives at `$path/band` and shares the registry's tombstone/compact
  *    lifecycle below. SHARED (`build(sharedBand = Some(b))`) the
  *    registry keeps no copy: it probes `b`, the deployment's standalone
  *    band layout, whose appends, tombstones and compacts the
  *    [[CorpusLifecycle]] coordinator's band branch owns. The location
  *    is a build constant of the commit record, relative to the
  *    registry's parent directory (trees stay relocatable), and every
  *    later call reads it from there, never from a caller;
  *  - `assignments/` (doc_id, cluster_id, gen) partitioned by `batch`
  *    — LSM: the `base` generation holds ≤1 row per doc (the build, or
  *    the last [[compact]]'s fold); every ingest APPENDS a generation
  *    of delta assignments plus re-mapping rows for absorbed clusters
  *    (bounded by the absorbed clusters, not the corpus). Reads fold
  *    base + the recent-generation overlay (see [[assignments]]);
  *  - `ledger/` (doc_id, text) partitioned by (`batch`, `bucket`) —
  *    the LAYOUT-OWNED text ledger candidate verification rehydrates
  *    from (the build set under `base`, each ingest's delta under its
  *    batch id — the same LSM discipline as the assignments). It lives
  *    with the index because a stale or partial caller-assembled copy
  *    produces silently WRONG cluster merges (candidate pairs whose
  *    corpus text is missing drop at the exact-verify join). `bucket` =
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
  * commit-less replay) ≡ the batch recursive-closure clustering over
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
  * appended it, or, on a shared band, the coordinator's band branch
  * may be appending it concurrently — the delta must not probe against
  * itself on replay).
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
  * generation number is the commit record's ingest ordinal, never a
  * data scan.
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
    * wants O(10k). A build constant of the commit record, so every
    * later ingest derives the same buckets.
    *
    * `sharedBand` names a standalone [[BandIndex]] layout to probe
    * instead of building a private `$path/band` (see the class doc):
    * the build then writes no band relation at all — the band layout is
    * built on its own, over the same docs.
    *
    * `preSketched` hands in an already-persisted
    * [[BandIndex.sketchRelation]] of `docs` built with BandIndex's
    * default geometry — the corpus fixture persists one sketch for this
    * build and the band build (the [[BandIndex.build]] parameter). */
  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.8,
      ledgerBuckets: Int = 16,
      sharedBand: Option[String] = None,
      preSketched: Option[DataFrame] = None): Unit = {
    val spark = docs.sparkSession
    val bandEntry =
      sharedBand.map(LsmLayout.relativeLocation(parentOf(path), _))
    LsmLayout.startIndexLife(spark, path, relations(path),
      Map("threshold" -> threshold, "ledger_buckets" -> ledgerBuckets) ++
        bandEntry.map("band" -> _)) {
      // ONE corpus sketch feeds both the index build and the batch
      // clustering. The geometry comes from BandIndex's own default
      // constants — the single source of truth — so the shared sketch
      // can never disagree with the stored index's.
      val sk = preSketched.getOrElse(Materialize.shared(
        BandIndex.sketchRelation(
          docs, idCol, textCol,
          shingleWidth = BandIndex.DefaultShingleWidth,
          numHashes = BandIndex.DefaultNumHashes,
          bands = BandIndex.DefaultBands)))
      // the three build relations are pairwise disjoint (band/, the
      // assignment base, ledger/), so the index build and the
      // text-ledger write run CONCURRENTLY with the clustering chain —
      // the wall is the longest of the three, not their sum. Racing
      // consumers of the shared sketch are safe: cached partitions are
      // computed once under the block manager's per-block lock. A
      // shared band is built by its own layout's build, not here.
      val bandFut = if (sharedBand.isDefined) None else Some(
        Overlap.future(spark)(
          BandIndex.build(docs, idCol, textCol,
            s"$path/band", preSketched = Some(sk))))
      // the layout-owned text ledger starts with the build set — from
      // here on, ingests are self-contained (delta-only). Bucketed for
      // rehydration pruning; repartitioned by bucket so each task writes
      // one bucket directory (no small-files fan-out).
      val ledgerFut = Overlap.future(spark)(
        LsmLayout.writeRelation(
          docs
            .select(col(idCol).as("doc_id"), col(textCol).as("text"))
            .withColumn("bucket", ledgerBucket(col("doc_id"), ledgerBuckets))
            .repartition(col("bucket"))
            .withColumn("batch", lit(BaseBatch)),
          s"$path/ledger", "batch", "bucket"))
      try {
        val comp = DedupClusters.components(
          MinHashNearDup.pairsFromSketched(sk, threshold,
            numHashes = BandIndex.DefaultNumHashes),
          "id_a", "id_b")
          .select(col("id").as("doc_id"), col("comp"))
        LsmLayout.writeRelation(
          docs.select(col(idCol).as("doc_id"))
            .join(comp, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("comp"), col("doc_id")).as("cluster_id"))
            .withColumn("gen", lit(0L))
            .withColumn("batch", lit(BaseBatch)),
          s"$path/assignments", "batch")
        bandFut.foreach(Overlap.await)
        Overlap.await(ledgerFut)
      } catch {
        case e: Throwable =>
          bandFut.foreach(Overlap.settle)
          Overlap.settle(ledgerFut)
          throw e
      }
    }
  }

  private def parentOf(path: String): String =
    new org.apache.hadoop.fs.Path(path).getParent.toString

  /** The two relations every build and ingest writes; the
    * generation-count policy counts the assignments. */
  private def relations(path: String) =
    Seq((s"$path/assignments", "batch="), (s"$path/ledger", "batch="))

  /** The shared band index this registry probes, resolved from its
    * record against its parent directory — `None` for a private band. */
  private[graft] def sharedBand(
      spark: SparkSession, path: String): Option[String] =
    sharedBandOf(LsmLayout.snapshot(spark, path))

  private def sharedBandOf(snap: LayoutSnapshot): Option[String] =
    snap.constants.get("band").map(b =>
      new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(parentOf(snap.root)), b).toString)

  /** Shared mode's delivery check: the coordinator's band branch owns
    * every band write, so each batch this registry applied (ingests and
    * forgets alike) must be applied in the band too. A batch the band
    * lacks was delivered to the registry alone — its docs would never
    * surface as candidates (or, for a forget, stay probe-visible) — so
    * the next ingest fails and names it. */
  private def requireBandHolds(
      snap: LayoutSnapshot, band: LayoutSnapshot): Unit = {
    val missing = snap.applied -- band.applied
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"registry ${snap.root} applied batch(es) ${missing.toSeq.sorted.mkString(", ")} " +
          s"that its shared band index ${band.root} never applied — deliver them " +
          "through CorpusLifecycle (retry the same batch id) before the " +
          "next ingest")
  }

  /** The stored text ledger of every SURVIVING doc — what candidate
    * verification rehydrates from, and what a forgotten doc's text
    * physically leaves at [[compact]]. Same read discipline as every
    * ledger-shaped relation: live generations under one snapshot,
    * pending tombstones anti-joined broadcast. */
  def ledger(spark: SparkSession, path: String): DataFrame =
    ledgerScoped(spark, path, LsmLayout.snapshot(spark, path))
      .drop("bucket")

  /** The ledger WITH its physical bucket column (long-cast: partition
    * directory values infer as int) — what the rehydration pruning
    * joins against. */
  private[graft] def ledgerBucketed(
      spark: SparkSession, path: String): DataFrame =
    ledgerScoped(spark, path, LsmLayout.snapshot(spark, path))

  /** The ledger's live generations (the ledger folds on its own track:
    * a compact may fold the assignment log while skipping the
    * corpus-sized ledger rewrite), tombstones applied. */
  private def ledgerScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame =
    LsmLayout.antiJoinTombstones(spark, path, snap,
      LsmLayout.readLive(spark, snap, s"$path/ledger", "batch=")
        .select(col("doc_id"), col("text"),
          col("bucket").cast("long").as("bucket")),
      "doc_id")

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
    * which pins address the post-compact state only.
    *
    * Nothing is persisted: the overlay's two uses in one plan share its
    * aggregate's shuffle through exchange reuse, and a lazy frame's
    * cache is one no operation scope could release. */
  def assignments(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame =
    assignmentsScoped(spark, path, LsmLayout.snapshot(spark, path), asOf)

  /** The assignment fold of one record: the base pointer, the
    * recent-overlay generations and the pending forget-set all come from
    * the same record, so a compact committing mid-read is invisible
    * (pre- or post-compact state, never a mix). */
  private def assignmentsScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot,
      asOf: Option[Long] = None,
      persistOverlay: Boolean = false): DataFrame = {
    val dir = s"$path/assignments"
    val recentNames = snap.liveIn(dir).filterNot(_ == snap.base)
    val base = LsmLayout.readGenerations(spark, dir, "batch=", Seq(snap.base))
      .select(col("doc_id"), col("cluster_id"))
    val folded =
      if (recentNames.isEmpty) base
      else {
        val recent = LsmLayout.readGenerations(spark, dir, "batch=",
          recentNames)
        val fold = asOf.fold(recent)(g => recent.filter(col("gen") <= g))
          .groupBy(col("doc_id"))
          .agg(max(struct(col("gen"), col("cluster_id"))).as("graft__l"))
          .select(col("doc_id"), col("graft__l.cluster_id").as("cluster_id"))
        // an ingest reads the fold in two queries (the edge list and the
        // remap write), so it persists the overlay in its own scope
        val latest = if (persistOverlay) Materialize.shared(fold) else fold
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
            latest.select(col("doc_id")), overlayBytes),
            Seq("doc_id"), "left_anti")
          .unionByName(latest)
      }
    LsmLayout.antiJoinTombstones(spark, path, snap, folded, "doc_id")
  }

  /** The rebuild-comparable naming view: every cluster renamed to its
    * min SURVIVING member. [[assignments]]'s raw ids are the stable
    * tokens downstream joins key on; this view is what compares
    * against a from-scratch clustering (the s52 oracle) after deletes
    * may have forgotten a cluster's original min member. One window
    * over `cluster_id`. */
  def canonicalAssignments(spark: SparkSession, path: String): DataFrame =
    canonical(assignments(spark, path))

  /** `(doc_id, cluster_id)` with every cluster renamed to its min
    * `doc_id`. */
  private[graft] def canonical(a: DataFrame): DataFrame =
    a.select(col("doc_id"),
      min(col("doc_id")).over(Window.partitionBy(col("cluster_id")))
        .as("cluster_id"))

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
    *
    * On a SHARED band the ingest only probes it: the batch's band
    * append is the coordinator's band branch ([[CorpusLifecycle.ingest]]),
    * and before its first write the ingest checks that the band holds
    * every batch this registry already applied.
    *
    * `preSketched` hands in the delta's persisted
    * [[BandIndex.sketchRelation]] built with the probed band's constants (the
    * coordinator sketches each batch once for this ingest and the band
    * append).
    */
  def ingest(
      delta: DataFrame, idCol: String, textCol: String,
      path: String, batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None,
      preSketched: Option[DataFrame] = None): Unit = {
    val spark = delta.sparkSession
    // the delta is sketched ONCE (with the band index's own constants)
    // for all three consumers — the index probe, the within-delta pair
    // join and the private index append
    def sketchFor(band: LayoutSnapshot): DataFrame = preSketched.getOrElse {
      val (numHashes, bands, shingleWidth) = BandIndex.metaOf(band)
      Materialize.shared(BandIndex.sketchRelation(
        delta, idCol, textCol, shingleWidth, numHashes, bands))
    }
    // file-count + overlay-size hygiene (the s46 policy): the fold's
    // broadcast overlay grows with every generation until a compact
    // folds it into base
    LsmLayout.ingestBatch(spark, path, batchId, writerEpoch,
      compactAfterGenerations, relations(path),
      compact(spark, path, _),
      // an applied batch: the next batch must still see this one in the
      // private band index (its own record lives inside BandIndex); a
      // clean retry whose registry half short-circuited only sketches if
      // the band half actually needs to run. A shared band is the
      // coordinator's.
      whenApplied = snap => if (sharedBandOf(snap).isEmpty) {
        val band = LsmLayout.snapshot(spark, s"$path/band")
        BandIndex.append(delta, idCol, textCol, band.root,
          batchId, writerEpoch = writerEpoch,
          preSketched =
            if (band.isApplied(batchId)) None else Some(sketchFor(band)))
      }) { snapNow =>
      // fence BEFORE the first mutation: a superseded writer is
      // rejected before touching any relation (its ledger generation
      // would otherwise land before the commit's fence check)
      LsmLayout.requireCurrentEpoch(spark, path, writerEpoch)
      val shared = sharedBandOf(snapNow)
      val band = LsmLayout.snapshot(spark, shared.getOrElse(s"$path/band"))
      shared.foreach(_ => requireBandHolds(snapNow, band))
      lazy val deltaSketch = sketchFor(band)
      val threshold = snapNow.constant("threshold").toDouble
      val ledgerBuckets = snapNow.constant("ledger_buckets").toInt
      // append the delta's text to the layout-owned ledger (its own
      // batch-keyed generation — dynamic overwrite, so a partial first
      // attempt is replaced bit-for-bit on retry). Runs CONCURRENTLY
      // with the probe below: the probe reads the record's committed
      // ledger generations (explicit paths), never this one, so the
      // write's target directory is invisible to every concurrent
      // read — the replay input is the state before the batch either
      // way, appended or mid-append.
      val ledgerFut = Overlap.future(spark)(
        LsmLayout.writeGeneration(
          delta
            .select(col(idCol).as("doc_id"), col(textCol).as("text"))
            .withColumn("bucket", ledgerBucket(col("doc_id"), ledgerBuckets))
            .repartition(col("bucket"))
            .withColumn("batch", lit(batchId)),
          s"$path/ledger", "batch", "bucket"))
      var bandFut: Option[Overlap.Task[Unit]] = None
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
        // only past the threshold.
        val corpus = ledgerScoped(spark, path, snapNow)
          .select(col("doc_id").as(idCol), col("text").as(textCol),
            col("bucket").as("graft__lbucket"))
        val ledgerBytes = LsmLayout.dirBytes(spark, s"$path/ledger",
          snapNow.liveIn(s"$path/ledger"), "batch=")
        val bucketHint =
          if (ledgerBytes > LsmLayout.rehydrationPruneBytes)
            Some(("graft__lbucket",
              (id: org.apache.spark.sql.Column) =>
                ledgerBucket(id, ledgerBuckets)))
          else None
        // the generation number = the record's ingest ordinal: never
        // restarts at a compact, so it stays ALIGNED with the
        // coordinator's other layouts even when one layout compacts
        // independently under maintain() — identical under retry, and
        // never a data scan
        val nextGen = snapNow.ordinal + 1L
        // the registry state as of BEFORE this batch: the record names
        // only committed generations, so a replay never reads its own
        // (possibly partial) first attempt's generation — e.g. an
        // already-applied merge re-map — and recomputes the first
        // attempt's row set bit for bit
        val reg = assignmentsScoped(spark, path, snapNow,
          persistOverlay = true)
        // delta ↔ indexed-corpus pairs, corpus side collapsed to its
        // cluster id; the probe skips this batch's own (possibly
        // partially appended) band generation so replays are
        // deterministic
        // materialized ONCE (the ingest's operation scope releases the
        // checkpoint): the edge list feeds BOTH the component
        // resolution and the absorbed-cluster remap below.
        // CHECKPOINTED, not persisted: a persisted frame is keyed by its
        // plan, and a write committing under a path the plan reads makes
        // Spark's cache manager drop the cached rows (`recacheByPath`) —
        // this batch's ledger append does, and on a shared band so does
        // the coordinator's concurrent band append. A checkpoint's plan
        // names no path.
        val (edgesDC, _, _) = IterationCheckpoint.localCounted(
          BandIndex.probeAt(band,
            corpus, delta, idCol, textCol, threshold,
            excludeGen = Some(batchId), preSketched = Some(deltaSketch),
            corpusBucket = bucketHint)
            .join(reg.withColumnRenamed("doc_id", "corpus_id"),
              Seq("corpus_id"))
            .select(col("delta_id").as("u"), col("cluster_id").as("v")))
        val edgesDD = MinHashNearDup
          .pairsFromSketched(deltaSketch, threshold,
            numHashes = BandIndex.metaOf(band)._1)
          .select(col("id_a").as("u"), col("id_b").as("v"))
        val comp = Materialize.shared(DedupClusters.components(
          edgesDC.unionByName(edgesDD), "u", "v"))
        // index the batch into the private band CONCURRENTLY with the
        // assignment-generation work below: the two touch disjoint
        // relations (band/sigs+postings vs assignments), and the band
        // append commits its own record after its own writes, so every
        // crash interleaving is one the record-gated retry already
        // repairs. Launched HERE, not with the ledger append: the
        // gen-write window below is commit-latency-bound, so the band's
        // two delta-sized writes hide in it, whereas an earlier launch
        // contends with the probe/components chain. Safe consumption of the shared delta sketch either way — a
        // racing first consumer computes cached partitions once under
        // the block manager's per-block lock (the lazy val itself
        // synchronizes initialization).
        if (shared.isEmpty) bandFut = Some(Overlap.future(spark)(
          BandIndex.append(delta, idCol, textCol, band.root, batchId,
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
        // its plan reads only explicit committed generation paths,
        // never this batch's own partition, and the dynamic
        // overwrite replaces only batch=<id> — read and write sets are
        // disjoint by construction (the compact() ledger-fold
        // argument); the edges and components are materialized above.
        LsmLayout.writeGeneration(
          deltaAssign.unionByName(remapRows)
            .withColumn("gen", lit(nextGen))
            .withColumn("batch", lit(batchId)),
          s"$path/assignments", "batch")
        // the ledger AND private band generations must be committed
        // before the batch's record (it asserts EVERY registry relation
        // — assignments, ledger, private band — holds the batch; the
        // band await costs nothing extra here, its writes overlapped the
        // gen-write window)
        Overlap.await(ledgerFut)
        bandFut.foreach(Overlap.await)
      } catch {
        case e: Throwable =>
          // settle in-flight writes before surfacing: no background
          // mutation may still be landing when the caller handles the
          // failure (the retry contract assumes a quiesced layout)
          Overlap.settle(ledgerFut)
          bandFut.foreach(Overlap.settle)
          throw e
      }
    }
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
    LsmLayout.deadRowStats(spark, path, snap,
      LsmLayout.readLive(spark, snap, s"$path/assignments", "batch=")
        .select(col("doc_id")),
      "doc_id")
  }

  /** Right-to-be-forgotten deletes: tombstone the doc's assignment row
    * AND its private band postings/signatures in one call —
    * forget-set-sized work; every serving path (the fold, the canonical
    * view, the next ingest's probe and remap) is blind to the doc
    * immediately, and [[compact]] drops the rows physically. A shared
    * band is tombstoned by the coordinator's band branch. Ids/topology
    * retention is the class-doc contract. Idempotent at both levels. */
  def forget(
      forgetIds: DataFrame, idCol: String,
      path: String, batchId: String,
      writerEpoch: Option[Long] = None): Unit = {
    LsmLayout.tombstoneIds(forgetIds, idCol, "doc_id", path, batchId,
      writerEpoch)
    // the probe side must forget too (its own record, under band/)
    if (sharedBand(forgetIds.sparkSession, path).isEmpty)
      BandIndex.tombstone(forgetIds, idCol, s"$path/band", batchId,
        writerEpoch = writerEpoch)
  }

  /** Fold the assignment log back to one base generation (≤1 row per
    * doc, folded rows stamped gen 0 so any later overlay generation
    * wins the read fold; the ingest ORDINAL itself never restarts —
    * the monotone-ordinal contract, so pins stay aligned across
    * layouts) and drop tombstoned docs physically, here
    * and in a private band index — SNAPSHOT-ATOMICALLY for
    * concurrent readers: the fold lands in a brand-new immutable
    * `base-<id>` generation, one manifest flip makes it (and the
    * now-applied tombstones) visible, and only directories the
    * PREVIOUS snapshot had already stopped referencing are deleted, so
    * a reader holding either snapshot sees exactly the pre- or
    * post-compact answer. Applied batches are KEPT (a late retry of a
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
      Seq(() => LsmLayout.writeGeneration(
        assignmentsScoped(spark, path, fold.snap)
          .withColumn("gen", lit(0L))
          .withColumn("batch", lit(fold.newBase)),
        s"$path/assignments", "batch")) ++
      (if (fold.foldSecondary)
        Seq(() => LsmLayout.writeGeneration(
          ledgerScoped(spark, path, fold.snap)
            .repartition(col("bucket"))
            .withColumn("batch", lit(fold.newBase)),
          s"$path/ledger", "batch", "bucket"))
      else Seq.empty)
    }
    // a private band index folds on the SAME rule as the ledger:
    // probes read explicit live generation paths (postings carry
    // per-doc facts, never an overlay fold like the assignments), so
    // folding buys file hygiene, not read shape. A shared band is
    // compacted by the coordinator's band branch.
    if (sharedBand(spark, path).isEmpty) {
      val bandPath = s"$path/band"
      LsmLayout.compactWhenDue(spark, bandPath,
        BandIndex.foldedRelations(bandPath))(
        BandIndex.compact(spark, bandPath, writerEpoch))
    }
  }
}
