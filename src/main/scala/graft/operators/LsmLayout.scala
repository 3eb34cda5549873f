package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** One committed SNAPSHOT of a stored layout — the tiny manifest the
  * reader resolves ONCE and the compactor flips ATOMICALLY (one
  * fail-if-exists file create), so maintenance is safe for concurrent
  * READERS, not just fenced writers:
  *
  *  - `base` — the generation directory holding the current folded
  *    base (the build writes `base`; every [[LsmLayout]] compact writes
  *    a NEW immutable `base-<id>` directory and flips this pointer —
  *    never an in-place rewrite a mid-compact reader could half-see);
  *  - `folded` — generation names already folded into `base` by past
  *    compacts; readers exclude them (their rows live on inside the
  *    base), and they are physically deleted one compact cycle LATER
  *    (a reader that resolved the previous snapshot may still be
  *    scanning them — the s43 immutable-generation discipline);
  *  - `appliedTs` — tombstone batches whose deletes the base already
  *    applied physically; readers skip their anti-join, and the
  *    directories are garbage-collected one cycle later.
  *
  * A layout with no snapshot file is exactly the state [[build]]
  * leaves: base = "base", nothing folded, nothing applied — so the
  * build path needs no manifest write and pre-snapshot layouts read
  * unchanged. */
private[graft] final case class LayoutSnapshot(
    id: Long,
    base: String,
    folded: Set[String],
    appliedTs: Set[String],
    ledgerBaseOpt: Option[String] = None,
    ledgerFoldedOpt: Option[Set[String]] = None) {
  /** The immutable base generation the NEXT compact writes. */
  def nextBase: String = s"base-${id + 1L}"

  /** The SECOND fold track (the registry's text ledger, the lexical
    * postings) keeps its own fold state: a compact may fold the small
    * relations while SKIPPING the corpus-sized rewrite of the track
    * (see [[LsmLayout.snapshotCompact]] — the track only MUST fold when
    * pending tombstones have to leave it physically). Pre-split
    * snapshots folded every relation together, so the track's fields
    * default to the shared ones — old manifests read unchanged. */
  def ledgerBase: String = ledgerBaseOpt.getOrElse(base)
  def ledgerFolded: Set[String] = ledgerFoldedOpt.getOrElse(folded)

  /** This snapshot re-keyed to the second track's fold state — what
    * the track's reads/GC pass wherever the shared helpers expect
    * `base`/`folded`. */
  def ledgerView: LayoutSnapshot =
    LayoutSnapshot(id, ledgerBase, ledgerFolded, appliedTs)
}

/** The shared maintenance protocol of the six stored LSM layouts
  * ([[LexicalIndex]], [[BandIndex]], [[KmvLayout]], [[IvfLayout]],
  * [[ChunkStore]], [[ClusterRegistry]]) — the at-least-once, snapshot
  * and writer-epoch contract is written ONCE here, and each layout
  * passes in only what is its own (its writes, its fold projections):
  *
  *  - every incremental write is keyed by a CALLER-SUPPLIED batch id
  *    that becomes the generation's partition directory, written with
  *    dynamic partition overwrite — a retried batch (foreachBatch
  *    re-runs a failed micro-batch with the SAME id) REPLACES its own
  *    generation instead of appending a duplicate, whether the first
  *    attempt crashed mid-write or fully committed;
  *  - a fully-committed batch leaves an `_applied/<gen>` marker file
  *    (written AFTER the batch's last data write), so a clean retry
  *    skips the work outright; markers survive compaction (a late
  *    retry of a batch already folded into the compacted generation
  *    must still no-op) and are cleared by a rebuild (a fresh index
  *    life may reuse batch ids).
  *
  * The skeleton (see "the maintenance skeleton" below) owns every step
  * of that contract, so no layout can skip one:
  *  - [[startIndexLife]] — the build preamble (tombstones, markers and
  *    snapshots of the previous life cleared; epochs kept);
  *  - [[ingestBatch]] — batch-id check, the marker check, then after
  *    the layout's writes the FENCE and the MARKER ([[commitApplied]]),
  *    then the auto-compact policy, which always compacts under the
  *    caller's epoch;
  *  - [[forgetBatch]] / [[tombstoneIds]] — marker check, the
  *    already-pending filter, one counted checkpoint, the layout's
  *    writes (skipped for an all-duplicate batch), then fence + marker
  *    — on EVERY path, the all-duplicate one included;
  *  - [[snapshotCompact]] — snapshot, fence, `nextBase`, stale-
  *    generation clear, the layout's fold writes (overlapped), the
  *    folded set, fence + COMMIT of the new manifest, then the GC; it
  *    also owns the optional second fold track ([[foldDue]] and its
  *    skip-path GC).
  *
  * Single-writer assumption: maintenance of one index path is driven
  * by one serialized loop (the foreachBatch contract) — concurrent
  * writers would race the marker check and the generation numbering.
  * The assumption is ENFORCED by the writer-epoch fence below
  * ([[acquireWriterEpoch]]/[[requireCurrentEpoch]]): every layout's
  * maintenance entry points accept an optional `writerEpoch`, and the
  * skeleton re-checks it before every marker and every manifest commit,
  * so a superseded loop fails loudly instead of corrupting silently
  * (gated by WriterFencingSpec).
  */
private[graft] object LsmLayout {

  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
  }

  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** True iff a maintenance batch with this generation name fully
    * committed in this index life. */
  def isApplied(spark: SparkSession, path: String, gen: String): Boolean =
    dirExists(spark, s"$path/_applied/$gen")

  def markApplied(spark: SparkSession, path: String, gen: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_applied/$gen")
    createFresh(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .close()
  }

  /** Create `p` as a NEW inode: an existing file is deleted first, never
    * truncated in place — a layout tree cloned with hard links
    * (CorpusFixture) shares its files' inodes with the source tree, and
    * an overwrite-create would truncate and chmod the source's file. */
  private def createFresh(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FSDataOutputStream = {
    fs.delete(p, false)
    fs.create(p, false)
  }

  /** Generation-name hygiene: batch ids become partition directory
    * names, so they must be path-safe, and must not collide with the
    * base-generation namespace ("base" from a build, "base-<n>" from
    * every snapshot compact) or the tombstone prefix ("ts-"). */
  def requireValidBatchId(batchId: String): Unit =
    require(
      batchId.nonEmpty && !batchId.startsWith("base") &&
        !batchId.startsWith("ts-") &&
        batchId.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
          c == '-'),
      s"batch id must be a path-safe token, not 'base*'/'ts-*': $batchId")

  /** True for any base-generation directory name — the build's `base`
    * or a compact's `base-<id>` (both reserved by
    * [[requireValidBatchId]]). */
  def isBaseName(name: String): Boolean =
    name == "base" || name.startsWith("base-")

  /** Generation directory NAMES under a layout relation (partition
    * values, prefix stripped) — file-count-sized metadata (one
    * listStatus), never a data read. The monotone-counter derivations
    * (`nextGen` in the KMV/registry/chunk layouts) count these
    * EXCLUDING the in-flight batch's own (possibly partial) directory,
    * so an at-least-once retry re-derives the same number without
    * scanning any stored data. */
  def generationNames(
      spark: SparkSession, dir: String,
      prefix: String = "gen="): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
  }

  // ---- layout snapshots (snapshot-atomic compaction) ------------------
  // The compact of every stored layout used to rewrite its `base`
  // generation IN PLACE — correct under the single-process oracle
  // harness, but a reader that opened the path mid-compact could fail
  // on vanished files or fold a partial base. The snapshot discipline
  // extends the immutable-generation idea (s43/s54) to the base itself:
  // a compact WRITES a brand-new `base-<id>` generation (touching
  // nothing a reader may hold), then FLIPS one tiny manifest file
  // (`_snap/<id>`, fail-if-exists create — atomic), and only deletes
  // directories the PREVIOUS snapshot had already stopped referencing —
  // so any reader sees exactly the pre- or the post-compact state,
  // never an error or a mix (gated by SnapshotCompactSpec's concurrent
  // reader loop).

  private def snapDir(root: String) = s"$root/_snap"

  /** The current committed snapshot of a layout — ONE metadata listing
    * + one tiny file read; a layout that has never compacted (or was
    * just rebuilt) resolves to the legacy build state. */
  def snapshot(spark: SparkSession, root: String): LayoutSnapshot = {
    val dir = new org.apache.hadoop.fs.Path(snapDir(root))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return LegacySnapshot
    val ids = fs.listStatus(dir).iterator
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .toSeq
    if (ids.isEmpty) LegacySnapshot
    else {
      val id = ids.max
      val in = fs.open(new org.apache.hadoop.fs.Path(s"${snapDir(root)}/$id"))
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = body.linesIterator
        .map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }
        .toMap
      def set(k: String): Set[String] =
        kv.getOrElse(k, "").split(",").filter(_.nonEmpty).toSet
      LayoutSnapshot(id, kv("base"), set("folded"), set("appliedTs"),
        kv.get("lbase"), kv.get("lfolded").map(_ =>
          set("lfolded")))
    }
  }

  /** The snapshot every un-compacted layout life starts in. */
  val LegacySnapshot: LayoutSnapshot =
    LayoutSnapshot(-1L, "base", Set.empty, Set.empty)

  /** Atomically commit a new snapshot: the content is written to a
    * temp name and RENAMED into place — a reader can never open a
    * created-but-not-yet-written manifest (create-then-write showed up
    * as an empty-file read under SnapshotCompactSpec's hammer). The
    * temp name does not parse as a snapshot id, so readers ignore it;
    * rename-refuses-to-overwrite keeps the fail-if-exists property
    * (two compacts racing one layout IS the bug the writer fence
    * exists to surface — loud error, not a retry case). */
  def commitSnapshot(
      spark: SparkSession, root: String, snap: LayoutSnapshot): Unit = {
    val fs = new org.apache.hadoop.fs.Path(snapDir(root))
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      s"${snapDir(root)}/.tmp-${snap.id}")
    val out = createFresh(fs, tmp)
    try out.write(
      (s"base=${snap.base}\n" +
        s"folded=${snap.folded.toSeq.sorted.mkString(",")}\n" +
        s"appliedTs=${snap.appliedTs.toSeq.sorted.mkString(",")}\n" +
        snap.ledgerBaseOpt.fold("")(b => s"lbase=$b\n") +
        snap.ledgerFoldedOpt.fold("")(f =>
          s"lfolded=${f.toSeq.sorted.mkString(",")}\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val p = new org.apache.hadoop.fs.Path(s"${snapDir(root)}/${snap.id}")
    // loud-collision check (best effort — POSIX rename overwrites
    // silently; the writer-epoch fence is what actually serializes
    // compacts, this turns a fence-less double-commit into an error)
    if (fs.exists(p) || !fs.rename(tmp, p))
      throw new java.io.IOException(
        s"snapshot ${snap.id} already committed at $root — two compacts " +
          "raced this layout (single-writer fence violation)")
  }

  /** The generation names a reader of THIS snapshot folds: the
    * snapshot's base plus every non-base generation not yet folded
    * into it. Superseded base generations and folded generations may
    * still exist on disk (they are deleted one compact cycle later) —
    * they are invisible here. */
  def liveGenerationNames(
      spark: SparkSession, dir: String, prefix: String,
      snap: LayoutSnapshot): Seq[String] =
    generationNames(spark, dir, prefix).filter(n =>
      n == snap.base || (!isBaseName(n) && !snap.folded.contains(n)))

  /** The metadata-monotone INGEST ORDINAL for the next batch: 1 +
    * (generations ever committed in this index life). Folded names
    * accumulate in the snapshot across compacts and live non-base names
    * cover the rest, so the number NEVER restarts at a compact — the
    * old live-count spelling did, which (a) silently broke the
    * cross-layout pin alignment the moment ONE layout compacted
    * independently under `CorpusLifecycle.maintain` (its numbering
    * restarted while its siblings' kept counting), and (b) made a
    * generation number ambiguous across compact boundaries. Excludes
    * the in-flight batch's own (possibly partial) directory so an
    * at-least-once retry re-derives the same ordinal; one listStatus,
    * never a data read. */
  def committedGenerationOrdinal(
      spark: SparkSession, dir: String, prefix: String,
      snap: LayoutSnapshot, excludeBatch: String): Long =
    1L + snap.folded.size +
      liveGenerationNames(spark, dir, prefix, snap)
        .count(n => n != snap.base && n != excludeBatch)

  /** Live-generation count under the CURRENT snapshot — what an
    * auto-compaction policy compares against its threshold (physical
    * directory counts include superseded generations awaiting GC and
    * would re-trip the policy forever). */
  def liveGenerationCount(
      spark: SparkSession, root: String, dir: String,
      prefix: String = "gen="): Int =
    liveGenerationNames(spark, dir, prefix, snapshot(spark, root)).size

  /** Tombstone batches a reader of this snapshot must still anti-join
    * (batches the base already physically applied are skipped; their
    * directories are GC'd one cycle later). */
  def liveTombstoneBatches(
      spark: SparkSession, root: String, snap: LayoutSnapshot): Seq[String] =
    generationNames(spark, root + "/tombstones", "batch=")
      .filterNot(snap.appliedTs.contains)

  /** Read exactly the NAMED generation directories of a layout
    * relation (basePath keeps the partition column). This — not a
    * whole-directory read + isin filter — is the snapshot-safe scan
    * shape: `spark.read.parquet(dir)` lists and schema-infers over
    * EVERY footer under the directory, including superseded
    * generations a concurrent compact's GC may delete mid-inference;
    * explicit live paths never touch them (and skip listing them —
    * at scale the metadata win too). */
  def readGenerations(
      spark: SparkSession, dir: String, prefix: String,
      names: Seq[String]): DataFrame = {
    require(names.nonEmpty,
      s"no live generations to read under $dir (prefix $prefix)")
    spark.read.option("basePath", dir)
      .parquet(names.map(n => s"$dir/$prefix$n"): _*)
  }

  /** The pending forget-set under a snapshot — `None` when every
    * tombstone batch is already applied — plus its on-disk byte size:
    * the honest broadcast-budget input for the forget-path dedup joins
    * (a new batch anti-joins the ALREADY-pending ids so a re-submitted
    * doc id doesn't tombstone twice). The caller filters the frame
    * further before joining, so the bytes UPPER-bound the broadcast. */
  def pendingTombstonesSized(
      spark: SparkSession, root: String,
      snap: LayoutSnapshot): Option[(DataFrame, Long)] = {
    val live = liveTombstoneBatches(spark, root, snap)
    if (live.isEmpty) None
    else Some((
      readGenerations(spark, s"$root/tombstones", "batch=", live),
      dirBytes(spark, s"$root/tombstones", live, "batch=")))
  }

  /** Anti-join the pending forget-set onto `frame` by `idName` — the
    * read-side GDPR discipline, centralized: batches the snapshot's
    * base already applied are skipped outright (no join in the plan),
    * and the id list is broadcast only while its backing bytes fit
    * [[broadcastBudgetBytes]] — a forget storm between compacts falls
    * back to a shuffle join instead of failing at the driver. */
  def antiJoinTombstones(
      spark: SparkSession, root: String, snap: LayoutSnapshot,
      frame: DataFrame, idName: String): DataFrame = {
    val live = liveTombstoneBatches(spark, root, snap)
    if (live.isEmpty) frame
    else {
      val bytes = dirBytes(spark, s"$root/tombstones", live, "batch=")
      frame.join(
        hintBroadcast(
          readGenerations(spark, s"$root/tombstones", "batch=", live)
            .select(col(idName)),
          bytes),
        Seq(idName), "left_anti")
    }
  }

  /** One-row `(n_live, n_dead)` of `rows` against the snapshot's
    * PENDING forget-set — the shared dead-mass report (the
    * `ChunkStore.deadChunkStats` pattern generalized): dead rows are
    * physically present rows of tombstoned docs, still scanned and
    * anti-joined by every probe until a compact drops them. This is
    * the data-aware compact-decision input for the posting/sketch/sig
    * families, where generation COUNT says nothing about forget mass
    * (a layout with one generation and half its docs tombstoned never
    * trips a count rule). One narrow id-column scan + the budget-
    * guarded tombstone join; no pending tombstones → a zero-dead
    * count of the same scan. */
  def deadRowStats(
      spark: SparkSession, root: String, snap: LayoutSnapshot,
      rows: DataFrame, idName: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, count, sum, when}
    pendingTombstonesSized(spark, root, snap) match {
      case None =>
        rows.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_live"),
          lit(0L).as("n_dead"))
      case Some((ts, bytes)) =>
        val dead = hintBroadcast(
          ts.select(col(idName)).distinct()
            .withColumn("graft__t", lit(1)),
          bytes)
        rows.join(dead, Seq(idName), "left")
          .agg(
            coalesce(sum(when(col("graft__t").isNull, 1L).otherwise(0L)),
              lit(0L)).as("n_live"),
            coalesce(sum(when(col("graft__t").isNotNull, 1L).otherwise(0L)),
              lit(0L)).as("n_dead"))
    }
  }

  /** Bytes on disk under the named generation directories — one
    * recursive metadata listing, never a data read. This is the
    * honest input to a BROADCAST decision: parquet bytes upper-bound
    * the broadcast relation built from those directories. */
  def dirBytes(
      spark: SparkSession, dir: String, names: Seq[String],
      prefix: String = "gen="): Long = {
    val conf = spark.sessionState.newHadoopConf()
    names.map { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$prefix$n")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else fs.getContentSummary(p).getLength
    }.sum
  }

  /** The byte threshold past which the registry's candidate-text
    * rehydration switches from a plain id semi-join (one full ledger
    * text scan — the right plan while the ledger is small: the
    * pruning machinery's fixed cost, a dynamic-pruning subquery plus
    * the bucket-keyed join, exceeds the scan it saves) to the
    * bucket-pruned join (reads candidate buckets only — the only
    * viable plan once the ledger text is large; at 100 TB a per-batch
    * full text scan is the maintenance bottleneck). Same discipline
    * as [[broadcastBudgetBytes]]: the on-disk bytes are the honest
    * decision input. Test hook: `-Dgraft.rehydration.prune.bytes=<n>`. */
  def rehydrationPruneBytes: Long =
    sys.props.get("graft.rehydration.prune.bytes").map(_.toLong)
      .getOrElse(256L << 20)

  /** The broadcast budget every small-side maintenance relation
    * (read-fold overlays, tombstone id lists) is guarded by: past it,
    * the join falls back to a shuffle instead of failing (or degrading)
    * at the driver when a mis-sized `compactAfterGenerations` policy or
    * a forget storm grows the relation between compacts. Size the
    * compaction policy so overlays stay WELL inside this; the guard
    * turns a config mistake into a non-event, not a crash.
    * Test hook: `-Dgraft.broadcast.budget.bytes=<n>`. */
  def broadcastBudgetBytes: Long =
    sys.props.get("graft.broadcast.budget.bytes").map(_.toLong)
      .getOrElse(64L << 20)

  /** Broadcast-hint `df` only while its backing bytes fit the budget;
    * past it, return it unhinted (a shuffle join — bounded memory,
    * same answer). */
  def hintBroadcast(df: DataFrame, backingBytes: Long): DataFrame =
    if (backingBytes <= broadcastBudgetBytes) broadcast(df) else df

  /** Delete directories no snapshot can reference anymore — run AFTER
    * the new snapshot commits. Deletable now: generation directories
    * the PREVIOUS snapshot had already folded (both snapshots exclude
    * them), base generations superseded before the previous snapshot,
    * and tombstone batches the previous snapshot had already applied.
    * Directories the previous snapshot still referenced are KEPT for
    * one more cycle — an in-flight reader may have resolved it. */
  def gcSuperseded(
      spark: SparkSession, root: String,
      relDirs: Seq[(String, String)],
      prev: LayoutSnapshot, next: LayoutSnapshot): Unit = {
    relDirs.foreach { case (dir, prefix) =>
      generationNames(spark, dir, prefix).foreach { n =>
        val superseded =
          (isBaseName(n) && n != prev.base && n != next.base) ||
            prev.folded.contains(n)
        if (superseded) deleteDir(spark, s"$dir/$prefix$n")
      }
    }
    prev.appliedTs.foreach(b =>
      deleteDir(spark, s"$root/tombstones/batch=$b"))
    // an emptied forget-set leaves no trace (the pre-snapshot
    // "compact clears the tombstones dir" contract, one cycle later)
    if (dirExists(spark, s"$root/tombstones") &&
      generationNames(spark, s"$root/tombstones", "batch=").isEmpty)
      deleteDir(spark, s"$root/tombstones")
  }

  // ---- the maintenance skeleton ---------------------------------------
  // One spelling of the choreography every layout's build, ingest,
  // forget and compact shares; a layout passes in only its own writes.

  /** The build preamble: a rebuild starts a fresh index life. Pending
    * tombstones of the previous life would hide rebuilt rows, its
    * applied markers would skip the first batch reusing an old id, and
    * its snapshot would point reads at a vanished base (the build's
    * full overwrite wipes every generation, so the legacy snapshot is
    * again exactly right). Writer epochs are kept (see the fence). */
  def startIndexLife(spark: SparkSession, path: String): Unit = {
    deleteDir(spark, s"$path/tombstones")
    deleteDir(spark, s"$path/_applied")
    deleteDir(spark, snapDir(path))
  }

  /** Write `df` into its generation partition(s) under `dir` with
    * dynamic partition overwrite — a retry replaces exactly the
    * partitions it writes, never a sibling generation. */
  def writeGeneration(df: DataFrame, dir: String, partitionCols: String*): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** The commit of one maintenance batch: the fence check, then the
    * applied marker — after the batch's last data write, so a
    * superseded writer can never mark a batch committed. */
  def commitApplied(
      spark: SparkSession, path: String, gen: String,
      writerEpoch: Option[Long]): Unit = {
    requireCurrentEpoch(spark, path, writerEpoch)
    markApplied(spark, path, gen)
  }

  /** The s46 generation-count policy (`compactAfterGenerations`, 0 =
    * off) over the LIVE generations of one relation (physical
    * directories include superseded generations awaiting GC and would
    * re-trip the policy forever). The compact always runs under the
    * caller's writer epoch: a superseded writer must not overwrite the
    * new owner's base or clear its tombstones. */
  def autoCompact(
      spark: SparkSession, path: String, dir: String, prefix: String,
      compactAfterGenerations: Int, writerEpoch: Option[Long])(
      compact: Option[Long] => Unit): Unit =
    if (compactAfterGenerations > 0 &&
      liveGenerationCount(spark, path, dir, prefix) > compactAfterGenerations)
      compact(writerEpoch)

  /** The applied-once ingest of one batch: unless the batch's marker
    * exists, run the layout's `writes` and commit ([[commitApplied]]);
    * then, on the fresh AND the already-applied path (a clean retry
    * must still honor the budget), the [[autoCompact]] policy over the
    * relation `dir`. */
  def ingestBatch(
      spark: SparkSession, path: String, batchId: String,
      writerEpoch: Option[Long], compactAfterGenerations: Int,
      dir: String, prefix: String, compact: Option[Long] => Unit)(
      writes: => Unit): Unit = {
    requireValidBatchId(batchId)
    if (!isApplied(spark, path, batchId)) {
      writes
      commitApplied(spark, path, batchId, writerEpoch)
    }
    autoCompact(spark, path, dir, prefix, compactAfterGenerations,
      writerEpoch)(compact)
  }

  /** The forget batch `ts-<batchId>`, idempotent at both levels: a
    * committed batch no-ops on its marker; otherwise `forget` loses the
    * rows whose `storedId` is already pending in ANOTHER batch (read
    * excluding this batch's own, possibly partial, partition — so a
    * re-delivered delete never applies twice and a retry recomputes the
    * same set), is checkpointed and counted once, and the layout's
    * `writes` get the fresh rows — keyed `idName` — and the snapshot
    * the filter read. An all-duplicate batch writes nothing (an empty
    * parquet write would leave a schemaless directory that breaks the
    * tombstone read) but still commits through the fence. */
  def forgetBatch(
      spark: SparkSession, path: String, batchId: String,
      writerEpoch: Option[Long], forget: DataFrame, idName: String,
      storedId: String)(
      writes: (DataFrame, LayoutSnapshot) => Unit): Unit = {
    requireValidBatchId(batchId)
    val gen = s"ts-$batchId"
    if (isApplied(spark, path, gen)) return
    val snap = snapshot(spark, path)
    val fresh = pendingTombstonesSized(spark, path, snap) match {
      case None => forget
      case Some((ts, bytes)) => forget.join(
        hintBroadcast(ts.filter(col("batch") =!= batchId)
          .select(col(storedId).as(idName)), bytes),
        Seq(idName), "left_anti")
    }
    val (rows, ckIds, n) = IterationCheckpoint.localCounted(fresh)
    if (n > 0L) writes(rows, snap)
    commitApplied(spark, path, gen, writerEpoch)
    IterationCheckpoint.release(spark.sparkContext, ckIds)
  }

  /** The id-list tombstone of the per-id-fact layouts (band postings,
    * KMV sketches, IVF vectors, chunk manifests, registry assignments):
    * the forget-set becomes a tombstone id list under `idName` that
    * every read anti-joins — forget-set-sized work, nothing stored
    * rewritten; the next compact drops the rows physically. */
  def tombstoneIds(
      forgetIds: DataFrame, idCol: String, idName: String,
      path: String, batchId: String, writerEpoch: Option[Long]): Unit =
    forgetBatch(forgetIds.sparkSession, path, batchId, writerEpoch,
      forgetIds.select(col(idCol).as(idName)).distinct(), idName,
      idName) { (rows, _) =>
      writeTombstones(rows, path, batchId)
    }

  /** The forget batch's id list, in its own `batch=<batchId>` partition. */
  def writeTombstones(rows: DataFrame, path: String, batchId: String): Unit =
    writeGeneration(rows.withColumn("batch", lit(batchId)),
      s"$path/tombstones", "batch")

  /** Hygiene bound of every SECONDARY fold (the lexical postings, the
    * registry's text ledger and internal band index): with no
    * tombstones pending, the corpus-sized rewrite runs only once this
    * many generations are live — those relations are read via explicit
    * live-generation paths, so extra generations cost directory
    * fan-out and file count, never read shape or scan bytes. */
  private val SecondaryFoldAfterGenerations = 8

  /** The fold-skip rule: a secondary relation must fold when tombstones
    * are pending (the GDPR contract — forgotten rows leave the stored
    * layout physically at compact) or past the hygiene bound. */
  def foldDue(pendingTs: Seq[String], liveGenerations: Int): Boolean =
    pendingTs.nonEmpty || liveGenerations > SecondaryFoldAfterGenerations

  /** What a layout's fold writes see inside [[snapshotCompact]]: the
    * snapshot being folded, the new base name to write, whether the
    * second track folds this time, and a checkpoint whose blocks the
    * skeleton releases once every fold write settled. */
  final class Fold private[LsmLayout] (
      spark: SparkSession, val snap: LayoutSnapshot, val newBase: String,
      val foldSecondary: Boolean) {
    private val ckIds = scala.collection.mutable.Set.empty[Int]

    /** `df`, eagerly checkpointed (frames are checkpointed before a
      * write whose plan could otherwise re-read a path the layout is
      * rewriting). */
    def checkpointed(df: DataFrame): DataFrame = {
      val (ck, ids, _) = IterationCheckpoint.localCounted(df)
      ckIds.synchronized(ckIds ++= ids)
      ck
    }

    private[LsmLayout] def release(): Unit =
      IterationCheckpoint.release(spark.sparkContext,
        ckIds.synchronized(ckIds.toSet))
  }

  /** The snapshot-atomic compact every layout shares: resolve the
    * snapshot, check the fence, pick `nextBase`, clear what a CRASHED
    * earlier attempt may have left under that name (the rewrite uses a
    * deterministic name with dynamic overwrite — if state changed
    * between attempts, the retry's rows may not cover every partition
    * the first attempt wrote, and the uncovered stale rows would be
    * served after the commit; no committed snapshot references the
    * name yet, so the delete is invisible to readers), run the layout's
    * `folds` (independent relation writes, overlapped; the function
    * itself runs on the calling thread, so eager work it does before
    * returning precedes every write), record the folded generations,
    * check the fence again and COMMIT the new manifest, then GC what
    * only the PREVIOUS snapshot had stopped referencing.
    *
    * `rels` fold on every compact. `secondary` relations form the
    * second fold track (their own base and folded set in the manifest):
    * they fold only when [[foldDue]] — the fold sees
    * `foldSecondary` — and a skipped track keeps its base and live
    * generations, readable unfolded, while its GC still runs against
    * the track's own state, so a skip history keeps the two-cycle
    * removal contract. Tombstone batches pending at the start are
    * retired by the commit. */
  def snapshotCompact(
      spark: SparkSession, root: String, writerEpoch: Option[Long],
      rels: Seq[(String, String)],
      secondary: Seq[(String, String)] = Seq.empty)(
      folds: Fold => Seq[() => Unit]): Unit = {
    val snap = snapshot(spark, root)
    requireCurrentEpoch(spark, root, writerEpoch)
    val newBase = snap.nextBase
    (secondary ++ rels).foreach { case (dir, prefix) =>
      deleteDir(spark, s"$dir/$prefix$newBase")
    }
    val liveTs = liveTombstoneBatches(spark, root, snap)
    val secondaryLive = secondary.flatMap { case (dir, prefix) =>
      liveGenerationNames(spark, dir, prefix, snap.ledgerView)
    }.distinct
    val fold = new Fold(spark, snap, newBase,
      secondary.nonEmpty && foldDue(liveTs, secondaryLive.size))
    try folds(fold) match {
      case Seq(only) => only()
      case many => Overlap.all(spark)(many: _*)
    } finally fold.release()
    val folded = snap.folded ++ rels.flatMap { case (dir, prefix) =>
      liveGenerationNames(spark, dir, prefix, snap)
    }.filterNot(_ == snap.base)
    val next =
      if (secondary.isEmpty)
        LayoutSnapshot(snap.id + 1L, newBase, folded, snap.appliedTs ++ liveTs)
      else {
        val (sbase, sfolded) =
          if (fold.foldSecondary)
            (newBase, snap.ledgerFolded ++
              secondaryLive.filterNot(_ == snap.ledgerBase))
          else (snap.ledgerBase, snap.ledgerFolded)
        LayoutSnapshot(snap.id + 1L, newBase, folded,
          snap.appliedTs ++ liveTs, Some(sbase), Some(sfolded))
      }
    requireCurrentEpoch(spark, root, writerEpoch)
    commitSnapshot(spark, root, next)
    gcSuperseded(spark, root, rels, snap, next)
    if (secondary.nonEmpty)
      gcSuperseded(spark, root, secondary, snap.ledgerView, next.ledgerView)
  }

  /** A whole layout folded on the [[foldDue]] rule (the registry's
    * internal band index): `compact` when due; otherwise sweep what a
    * second compact cycle would — directories only snapshots OLDER than
    * the current one could reference — without a manifest flip, so
    * physical removal keeps its two-cycle contract through skips. */
  def compactWhenDue(
      spark: SparkSession, root: String, rels: Seq[(String, String)])(
      compact: => Unit): Unit = {
    val snap = snapshot(spark, root)
    val live = rels.flatMap { case (dir, prefix) =>
      liveGenerationNames(spark, dir, prefix, snap)
    }.distinct
    if (foldDue(liveTombstoneBatches(spark, root, snap), live.size)) compact
    else gcSuperseded(spark, root, rels, snap, snap)
  }

  // ---- immutable-meta caching ----------------------------------------
  // The band/registry/KMV/chunk layouts each write a ONE-ROW `meta/`
  // relation at build time and never again within an index life — yet
  // every ingest/refresh used to re-run a full parquet read JOB just to
  // re-learn those constants (measured: a few hundred ms of fixed cost
  // per maintenance call, dominating small-delta ingests). The cache
  // holds ONE entry per meta relation, validated by the read
  // directory's file fingerprint (part-file names carry a per-write
  // UUID, so ANY rewrite — a rebuild at the same path — changes it),
  // making a hit one metadata listing and a rebuild a natural
  // invalidation; a layout whose constants live in a generation of the
  // relation (the lexical base) replaces its entry when the base moves
  // instead of leaving one dead entry per compact. Driver-side only,
  // like every other plan-time constant.

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, org.apache.spark.sql.Row)]()

  private def metaFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).iterator
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .toSeq.sorted.mkString(";")
  }

  /** The single meta row of the relation `dir` — or of its generation
    * `gen=<generation>` — cached against the read directory's file
    * fingerprint: one listStatus on a hit, the parquet read job only on
    * first touch or after a rewrite. Use ONLY for rows that are
    * immutable within an index life (the build-time constant metas);
    * generational sums (the lexical counters) must keep reading live. */
  def cachedMetaRow(
      spark: SparkSession, dir: String,
      generation: Option[String] = None): org.apache.spark.sql.Row = {
    val read = generation.fold(dir)(g => s"$dir/gen=$g")
    val fp = s"$read|${metaFingerprint(spark, read)}"
    val hit = metaCache.get(dir)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val row = spark.read.parquet(read).head()
      metaCache.put(dir, (fp, row))
      row
    }
  }

  /** The meta relations the cache currently holds an entry for. */
  private[graft] def cachedMetaDirs: Set[String] = {
    val keys = Set.newBuilder[String]
    metaCache.keys().asIterator().forEachRemaining(k => keys += k)
    keys.result()
  }

  // ---- writer fencing -----------------------------------------------
  // The single-writer assumption above is an OPERATIONAL contract; the
  // epoch fence turns its violation (two maintenance loops on one index
  // path — e.g. a stuck-then-revived driver beside its replacement)
  // from silent corruption into a loud error. A maintenance loop calls
  // [[acquireWriterEpoch]] ONCE at loop start and passes the epoch to
  // every maintenance call; each commit re-checks the fence immediately
  // before its `_applied` marker, so a superseded writer can never mark
  // a batch committed after a newer loop took over. (Its in-flight DATA
  // write may already have landed — the new owner's re-delivery of the
  // same micro-batch id overwrites that generation, per the dynamic-
  // overwrite contract; what the fence guarantees is that the stale
  // loop STOPS, loudly, instead of racing the marker check and the
  // generation numbering forever.) Epochs are never cleared — not even
  // by a rebuild — so a revived old loop stays fenced across index
  // lives.

  /** Claim ownership of a layout path's maintenance: returns a fresh
    * epoch strictly greater than every epoch ever issued for the path.
    * MUTUALLY EXCLUSIVE under races: the marker is created
    * fail-if-exists, so two replacement drivers that both computed
    * `latest + 1` cannot share an epoch — the loser re-lists and takes
    * the next number (and is then fenced by the winner's, or fences
    * the winner's, strictly-ordered epoch). */
  def acquireWriterEpoch(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var attempts = 0
    while (true) {
      val next = latestEpoch(spark, path) + 1L
      val p = new org.apache.hadoop.fs.Path(s"$path/_writer/$next")
      try {
        p.getFileSystem(conf).create(p, false).close()
        return next
      } catch {
        case _: java.io.IOException =>
          attempts += 1
          require(attempts < 1000,
            s"could not acquire a writer epoch for $path after $attempts " +
              "collisions")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def latestEpoch(spark: SparkSession, path: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/_writer")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** The fence check every maintenance commit runs before its marker:
    * `None` (an unfenced caller — batch jobs, tests) passes; a fenced
    * caller whose epoch has been superseded throws instead of
    * committing. */
  def requireCurrentEpoch(
      spark: SparkSession, path: String, epoch: Option[Long]): Unit =
    epoch.foreach { e =>
      val latest = latestEpoch(spark, path)
      if (latest > e)
        throw new IllegalStateException(
          s"stale writer epoch $e for $path: a newer maintenance loop " +
            s"(epoch $latest) owns this index — this writer must stop " +
            "(single-writer fence)")
    }
}
