package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-addressed chunk store — the LBFS/venti dedup storage layout
  * behind s42, promoted to a maintained operator: distinct CDC chunks
  * stored ONCE keyed by their 60-bit hash, per-doc manifests of
  * (pos, chunk_h) — 16 bytes per chunk occurrence — and any doc
  * reconstructs losslessly from the two stored tables (the s42 oracle
  * proves reconstruction md5-for-md5 against the original text).
  *
  * Layout under `path`:
  *  - `store/` (chunk_h, chunk) partitioned by `gen` — each generation
  *    holds only the chunks NEW relative to every other generation, so
  *    the logical store is the plain union (no fold needed: a hash
  *    appears in exactly one generation under the single-writer
  *    contract);
  *  - `manifest/` (doc_id, pos, chunk_h, seq) partitioned by `gen` —
  *    `seq` is the monotone INGEST ORDINAL (derived from directory
  *    metadata, retry-stable, NEVER restarting at a compact — the
  *    shared `committedGenerationOrdinal` spelling, aligned with the
  *    registry/KMV generation numbers under coordinated ingest);
  *    [[reconstruct]] folds each doc to its LATEST manifest, so
  *    re-ingesting an EDITED doc under its existing doc_id is
  *    last-writer-wins (the edited-doc sync workflow n169 measures)
  *    instead of silently merging two manifest versions into one
  *    garbled reconstruction — and `asOf = g` pins the fold to the
  *    corpus as of ingest g (membership-exact across compacts);
  *  - `meta/` one row (mask_bits) — self-describing (the LexicalIndex
  *    lesson: cut points from a disagreeing mask would produce valid-
  *    looking manifests whose chunks never match the store).
  *
  * IDEMPOTENT maintenance under at-least-once delivery (shared via
  * [[LsmLayout]]): [[refresh]] keys its writes by the caller's batch id
  * with dynamic partition overwrite + an applied marker, and its
  * new-chunk anti-join reads the store EXCLUDING the batch's own
  * (possibly partial) generation — so a retry recomputes the same
  * new-chunk set and replaces its own partitions (gated by s47:
  * refresh-with-retry ≡ one-shot build through the reconstruction).
  *
  * 100 TB shape: build is one corpus pass (per-row CDC fold — the
  * fused `graft_cdc_chunks` codegen — then a hash-keyed distinct);
  * refresh does delta-sized chunking plus one anti-join whose store
  * side reads only `chunk_h` (column pruning; chunk TEXT is never
  * read on the write path's comparison side). The chunk-delta rate is
  * measured at ~1.09 new chunks per edited doc (n169), so incremental
  * store growth is edit-sized, not corpus-sized. Reconstruction
  * necessarily shuffles chunk text — it IS the rebuild op.
  *
  * Deletes ([[tombstone]], the s40 discipline): manifests are
  * doc-keyed, so the forget-set is an id list every [[reconstruct]]
  * anti-joins — the doc is unreconstructible immediately (the text is
  * only reconstructible THROUGH a manifest), at forget-set-sized cost.
  * Physical reclamation is [[compact]]'s REFCOUNT SWEEP: chunks are
  * SHARED by design, so a store row is dropped only when NO surviving
  * latest manifest references it — that covers tombstoned docs' unique
  * chunks AND the dead chunks superseded manifests (edited re-ingests)
  * left behind. Compact is deliberately the one corpus-sized
  * maintenance op (one manifest fold + one hash semi-join), same as
  * every other layout's compact contract; gated by s53 (forget + edit
  * + compact lifecycle ≡ closed-form reconstruction over the effective
  * surviving corpus).
  */
object ChunkStore {

  private val BaseGen = "base"

  private def chunkRows(
      docs: DataFrame, idCol: String, textCol: String,
      maskBits: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.cdcChunks(TextOps.tokens(col(textCol)), maskBits))
          .as(Seq("pos", "chunk")))
      .select(col("doc_id"), col("pos"), col("chunk"),
        TextOps.hexHash60(col("chunk")).as("chunk_h"))

  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, maskBits: Int = 4): Unit = {
    val spark = docs.sparkSession
    LsmLayout.startIndexLife(spark, path)
    val rows = Materialize.shared(chunkRows(docs, idCol, textCol, maskBits))
    // store/, manifest/ and the one-row meta are disjoint relations
    // (the first two derive from the shared chunk rows, computed once
    // under the block manager's per-block lock) — write all three
    // concurrently; a crashed partial build was never servable in any
    // ordering
    Overlap.all(spark)(
      () => rows.groupBy(col("chunk_h"))
        .agg(min(col("chunk")).as("chunk"))
        .withColumn("gen", lit(BaseGen))
        .write.mode("overwrite").partitionBy("gen").parquet(s"$path/store"),
      () => rows.select(col("doc_id"), col("pos"), col("chunk_h"))
        .withColumn("seq", lit(0L))
        .withColumn("gen", lit(BaseGen))
        .write.mode("overwrite").partitionBy("gen").parquet(s"$path/manifest"),
      () => spark.range(1)
        .select(lit(maskBits.toLong).as("mask_bits"))
        .write.mode("overwrite").parquet(s"$path/meta"))
  }

  /** Ingest a delta batch: chunk the delta (delta-sized, map-only),
    * append its manifests, and append ONLY the chunks whose hash is
    * absent from every other generation — the content-address dedup
    * that makes storage growth edit-sized. Idempotent per the
    * [[LsmLayout]] contract; the anti-join excludes the batch's own
    * generation so a partial-failure replay recomputes the identical
    * new-chunk set.
    *
    * Doc-id semantics: NEW ids simply append; an EXISTING id (an
    * edited doc re-synced under its identity) writes a new seq-stamped
    * manifest that SUPERSEDES the old one at [[reconstruct]]
    * (last-writer-wins). The superseded manifest's chunks stay in the
    * store — content-addressed rows are shared by design; physical
    * reclamation is a refcount sweep at a future compact, per the
    * class doc.
    *
    * `compactAfterGenerations` (0 = off) triggers [[compact]] when the
    * live manifest-generation count exceeds the threshold — the s46
    * policy, so a continuous ingest loop bounds THIS layout's
    * generation growth like every other layout's refresh does. */
  def refresh(
      delta: DataFrame, idCol: String, textCol: String,
      path: String, batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    LsmLayout.ingestBatch(spark, path, batchId, writerEpoch,
      compactAfterGenerations, s"$path/manifest", "gen=",
      compact(spark, path, _)) {
      val maskBits = LsmLayout.cachedMetaRow(spark, s"$path/meta")
        .getAs[Long]("mask_bits").toInt
      val snap = LsmLayout.snapshot(spark, path)
      // the manifest sequence number: the metadata-monotone ingest
      // ordinal (shared spelling) — NEVER restarts at a compact (folded
      // names accumulate in the snapshot), which is what makes `seq` a
      // corpus-wide time-travel pin: the old live-count spelling
      // restarted at every fold, so a post-compact refresh could mint a
      // seq below a superseded version's and latest-wins would resolve
      // an EDITED doc to its stale text. Identical under retry (own dir
      // excluded), no data read.
      val seq = LsmLayout.committedGenerationOrdinal(
        spark, s"$path/manifest", "gen=", snap, batchId)
      val rows = Materialize.shared(chunkRows(delta, idCol, textCol, maskBits))
      val cand = rows.groupBy(col("chunk_h"))
        .agg(min(col("chunk")).as("chunk"))
      // which candidate hashes the store already holds: the delta hash
      // set broadcasts onto a map-only, hash-column-pruned store scan,
      // and the (delta-bounded) hit list broadcasts back into the
      // anti-join — so the corpus-sized store NEVER enters an exchange
      // on the refresh path (a plain delta-anti-store join would shuffle
      // the store's full hash column per micro-batch). LIVE generations
      // only, and that is CORRECTNESS, not hygiene: a superseded
      // generation awaiting GC may hold a chunk the refcount sweep
      // reclaimed — counting it as "present" would skip re-storing a
      // chunk no live generation holds, and reconstruction would lose it.
      val storeLive = LsmLayout
        .liveGenerationNames(spark, s"$path/store", "gen=", snap)
        .filterNot(_ == batchId)
      val present = LsmLayout
        .readGenerations(spark, s"$path/store", "gen=", storeLive)
        .select(col("chunk_h"))
        .join(broadcast(cand.select(col("chunk_h"))),
          Seq("chunk_h"), "left_semi")
      // the store and manifest generations are disjoint relations from
      // the one shared (materialized) chunk projection — write them
      // CONCURRENTLY; the marker below lands only after both settle. The
      // new-chunk plan's self-read of the store is safe by construction
      // (it reads explicit live generation paths that EXCLUDE this
      // batch's own directory, and the dynamic overwrite replaces only
      // gen=<batch> — the compact() ledger-fold disjointness argument),
      // so the old delta-sized eager checkpoint bought nothing but one
      // extra materialization pass per refresh.
      Overlap.all(spark)(
        () => LsmLayout.writeGeneration(
          cand.join(broadcast(present), Seq("chunk_h"), "left_anti")
            .withColumn("gen", lit(batchId)),
          s"$path/store", "gen"),
        () => LsmLayout.writeGeneration(
          rows.select(col("doc_id"), col("pos"), col("chunk_h"))
            .withColumn("seq", lit(seq))
            .withColumn("gen", lit(batchId)),
          s"$path/manifest", "gen"))
    }
  }

  /** The serving manifest relation: tombstoned docs dropped (the
    * forget-set anti-joins broadcast — a delete is visible before any
    * compact), then each doc folded to its LATEST manifest (one
    * partitioned window over the narrow manifest — superseded versions
    * of re-ingested docs drop here). `asOf` pins the fold to the
    * manifests written by ingest generation ≤ g (seq is the monotone
    * ingest ordinal). The output's `seq` is the doc's FIRST-APPEARANCE
    * ordinal (min over its surviving versions), not the surviving
    * version's: that is what [[compact]] stamps the fold with, so a
    * membership pin keeps resolving after the fold — an edited doc is
    * a member since its FIRST ingest, and stamping the fold with the
    * edit's ordinal instead would make pins between the two silently
    * drop the doc (caught by the spec's cross-compact pin). One window
    * computes both bounds. */
  private def latestManifests(
      spark: SparkSession, path: String,
      snap: Option[LayoutSnapshot] = None,
      asOf: Option[Long] = None): DataFrame = {
    val scoped = manifestsScoped(spark, path,
      snap.getOrElse(LsmLayout.snapshot(spark, path)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    asOf.fold(scoped)(g => scoped.filter(col("seq") <= g))
      .withColumn("graft__mx", max(col("seq")).over(w))
      .withColumn("graft__mn", min(col("seq")).over(w))
      .filter(col("seq") === col("graft__mx"))
      .select(col("doc_id"), col("pos"), col("chunk_h"),
        col("graft__mn").as("seq"))
  }

  /** Every live manifest version of a snapshot, tombstoned docs
    * dropped. */
  private def manifestsScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame = {
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/manifest", "gen=", snap)
    LsmLayout.antiJoinTombstones(spark, path, snap,
      LsmLayout.readGenerations(spark, s"$path/manifest", "gen=", live)
        .drop("gen"),
      "doc_id")
  }

  /** Lossless reconstruction from the two stored tables: the surviving
    * latest manifests ([[latestManifests]]) through one manifest⋈store
    * join + ordered rejoin per doc — (doc_id, n_chunks, text_md5), the
    * s42 serving shape.
    *
    * `asOf` is the corpus-wide time-travel pin (seq = the monotone
    * ingest ordinal shared with the registry/KMV numbering):
    * MEMBERSHIP-EXACT across any number of compacts — per-row seqs are
    * preserved through the fold, so docs ingested after g never appear
    * — while VERSION history collapses at compact (a pre-compact pin
    * resolves an edited doc to its version as of g; post-compact, to
    * its latest-as-of-fold text, whose chunks the refcount sweep
    * retains by construction — a pinned manifest row can never
    * reference a swept chunk). Tombstones apply to every pin (GDPR
    * outranks time travel, the s43 rule). */
  def reconstruct(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    // ONE snapshot resolution for manifest + store: a compact flipping
    // between the two reads would join live manifests against a store
    // whose duplicate-held chunks (old base + new base) multiply rows
    val snap = LsmLayout.snapshot(spark, path)
    latestManifests(spark, path, Some(snap), asOf)
      .join(storeScoped(spark, path, snap), Seq("chunk_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk")), " ")).as("text_md5"))
  }

  /** The ids of every doc the store currently SERVES — the id-only
    * serving accessor the corpus audits read. Survivorship is fully
    * determined by the NARROW manifest relation with the tombstone
    * anti-join: a doc reconstructs iff it has any surviving manifest
    * row, and superseded edit versions carry the same id, so neither
    * the latest-manifest fold nor the store join is needed — chunk
    * TEXT is never read (plan-pinned in CorpusLifecycleSpec). At
    * 100 TB this is the difference between a compliance audit that
    * scans one id column and one that reassembles every surviving
    * document's text only to distinct the ids. */
  def servedDocIds(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/manifest", "gen=", snap)
    val man = LsmLayout
      .readGenerations(spark, s"$path/manifest", "gen=", live)
      .select(col("doc_id"), col("seq"))
    val pinned = asOf.fold(man)(g => man.filter(col("seq") <= g))
      .select(col("doc_id"))
    LsmLayout.antiJoinTombstones(spark, path, snap, pinned, "doc_id")
      .distinct()
  }

  /** The store relation scoped to a snapshot's live generations —
    * superseded generations awaiting GC may duplicate live chunks
    * (the folded base holds everything) and would multiply any join. */
  private def storeScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame = {
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/store", "gen=", snap)
    LsmLayout.readGenerations(spark, s"$path/store", "gen=", live)
      .drop("gen")
  }

  /** Right-to-be-forgotten deletes: the forget-set becomes a tombstone
    * id list every [[reconstruct]] anti-joins — the doc is
    * unreconstructible immediately at forget-set-sized cost (ALL its
    * manifest versions hide at once; the text only reconstructs
    * THROUGH a manifest). [[compact]]'s refcount sweep later reclaims
    * its unshared chunks physically. Idempotent at both levels (the
    * band-index shape).
    *
    * Contract (the LexicalIndex.tombstone discipline): re-ingesting a
    * forgotten id requires a [[compact]] first — while its tombstone
    * is pending, the anti-join hides the re-ingested manifest too. */
  def tombstone(
      forgetIds: DataFrame, idCol: String,
      path: String, batchId: String,
      writerEpoch: Option[Long] = None): Unit =
    LsmLayout.tombstoneIds(forgetIds, idCol, "doc_id", path, batchId,
      writerEpoch)

  /** Fold the layout to one generation with PHYSICAL reclamation:
    * manifests fold to the surviving latest version per doc (dropping
    * tombstoned docs and superseded edit versions), and the store's
    * refcount sweep keeps a chunk only if some surviving manifest
    * still references it — chunks are shared, so per-doc deletion can
    * never drop store rows eagerly; this sweep is where forgotten
    * docs' unique chunks AND dead superseded chunks leave disk.
    * Deliberately the one corpus-sized maintenance op (the compact
    * contract): one manifest fold + one hash semi-join. Markers kept;
    * forget-set cleared; per-row seqs preserved (the counter itself
    * never restarts — the monotone-ordinal contract). */
  def compact(
      spark: SparkSession, path: String,
      writerEpoch: Option[Long] = None): Unit =
    // per-row `seq` is PRESERVED through the fold (the KMV compact
    // discipline): membership pins keep resolving exactly across
    // compacts — what collapses is superseded VERSION history (and
    // with it the swept chunks), per the reconstruct() contract
    foldVersions(spark, path, writerEpoch)(snap =>
      latestManifests(spark, path, Some(snap)))

  /** History-retention vacuum — the s27 "keep the last N" lifecycle op
    * applied to the layout's VERSION history (the generalized
    * [[compact]]: compact collapses ALL superseded versions; this
    * collapses only those older than a retention floor). For each doc,
    * the latest version at-or-before `keepFrom` becomes its retention
    * FLOOR (stamped with the doc's first-appearance ordinal, the
    * compact discipline, so membership pins below the floor keep
    * resolving) and every version newer than `keepFrom` survives
    * VERBATIM — so every asOf pin g ≥ keepFrom serves version-exactly
    * as before the vacuum, while pre-floor edit history (and the store
    * chunks only it referenced, via the same refcount sweep) physically
    * leaves disk. Tombstoned docs leave entirely (GDPR outranks
    * retention like it outranks time travel). Snapshot-atomic with the
    * same one-flip/two-cycle-GC contract as compact; markers kept;
    * `writerEpoch` fences the flip and the GC. */
  def retentionVacuum(
      spark: SparkSession, path: String, keepFrom: Long,
      writerEpoch: Option[Long] = None): Unit =
    foldVersions(spark, path, writerEpoch) { snap =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      // per doc, over the narrow manifest: the floor version (max seq at
      // or below keepFrom — null when the doc only exists after the
      // floor) and the first-appearance ordinal; ONE window computes both
      manifestsScoped(spark, path, snap)
        .withColumn("graft__fl",
          max(when(col("seq") <= keepFrom, col("seq"))).over(w))
        .withColumn("graft__mn", min(col("seq")).over(w))
        .filter(col("seq") > keepFrom || col("seq") === col("graft__fl"))
        .select(col("doc_id"), col("pos"), col("chunk_h"),
          when(col("seq") === col("graft__fl"), col("graft__mn"))
            .otherwise(col("seq")).as("seq"))
    }

  /** The fold both [[compact]] and [[retentionVacuum]] commit: the
    * `manifests` projection of the snapshot, checkpointed once, is
    * rewritten as the new manifest base while the refcount-swept store
    * (every chunk some kept manifest row references) is rewritten
    * beside it — disjoint relations, overlapped; ONE manifest flip
    * covers both, so a reader never joins a swept store against
    * un-folded manifests (or vice versa). */
  private def foldVersions(
      spark: SparkSession, path: String, writerEpoch: Option[Long])(
      manifests: LayoutSnapshot => DataFrame): Unit =
    LsmLayout.snapshotCompact(spark, path, writerEpoch,
      Seq((s"$path/manifest", "gen="), (s"$path/store", "gen="))) { fold =>
      val man = fold.checkpointed(manifests(fold.snap))
      Seq(
        () => LsmLayout.writeGeneration(
          man.withColumn("gen", lit(fold.newBase)), s"$path/manifest", "gen"),
        () => LsmLayout.writeGeneration(
          fold.checkpointed(storeScoped(spark, path, fold.snap)
            .join(man.select(col("chunk_h")).distinct(), Seq("chunk_h"),
              "left_semi"))
            .withColumn("gen", lit(fold.newBase)),
          s"$path/store", "gen"))
    }

  /** Reclamation report: how much of the store a [[compact]] refcount
    * sweep would drop — live rows (referenced by some surviving latest
    * manifest) vs dead rows (orphaned by superseded edit manifests or
    * tombstoned docs) and the dead characters. The number an operator
    * reads to DECIDE when compacting pays (the compact op itself is
    * corpus-sized); one store scan + the manifest fold, chunk text
    * read only on the store side. Single-row output. */
  def deadChunkStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val refs = latestManifests(spark, path, Some(snap))
      .select(col("chunk_h")).distinct()
      .withColumn("graft__live", lit(1L))
    storeScoped(spark, path, snap)
      .join(refs, Seq("chunk_h"), "left")
      .agg(
        // coalesce all three: the sums aggregate NULL over an empty
        // store, and maintain() reads them with getLong — a brand-new
        // (or fully-swept) layout must report zeros, not NPE the run
        coalesce(sum(when(col("graft__live").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_live"),
        coalesce(sum(when(col("graft__live").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_dead"),
        coalesce(sum(when(col("graft__live").isNull,
          length(col("chunk")).cast("long")).otherwise(0L)), lit(0L))
          .as("dead_chars"))
  }

  /** Store-growth report: chunks and bytes per generation — what the
    * n169 chunk-delta claim is measured with. Metadata-sized output. */
  def generationStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/store", "gen=", snap)
    LsmLayout.readGenerations(spark, s"$path/store", "gen=", live)
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk")).cast("long")).as("n_chars"))
      .orderBy(col("gen"))
  }
}
