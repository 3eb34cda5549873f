package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** One COMMIT RECORD of a stored layout (`_snap/<id>`): the whole
  * committed state, so a reader resolves everything from the latest
  * record — one listing of `_snap` and one tiny file read — and lists
  * no relation directory. Every build, ingest, forget and compact the
  * [[LsmLayout]] skeleton runs ends by committing record id+1 (one
  * atomic temp-then-rename create), after its last data write and after
  * the writer fence; a crash before that leaves the previous record, so
  * the operation never happened for every reader.
  *
  *  - `base` — the base generation name of the last fold (`base` from a
  *    build, `base-<id>` from the compact that committed record id; a
  *    compact never rewrites a base in place);
  *  - `live` — per relation (its directory name under the layout root,
  *    `tombstones` included), the generation names a reader of this
  *    record reads: a generation is live from the commit of the batch
  *    that wrote it until a compact folds it;
  *  - `retired` — per relation, the generations the last compact folded
  *    (or, for tombstones, applied): no reader of this record reads them,
  *    but a reader of the previous one may, so the NEXT compact deletes
  *    them (the two-cycle removal contract);
  *  - `applied` — the batch ids applied in this index life (ingest ids
  *    and `ts-<id>` forgets): a retry of one is a no-op;
  *  - `ordinal` — the ingest ordinal: ingests committed in this index
  *    life, never restarting at a compact;
  *  - `lastCompact` — the id of the record the last fold (the build or a
  *    compact) committed; a compact deletes the records older than the
  *    previous one's;
  *  - `constants` — the build's layout constants (shingle width, bands,
  *    buckets, …): a caller cannot disagree with the stored layout;
  *  - `epoch` — the writer epoch that committed it (none when unfenced).
  *
  * `root` is where the record was read from; it is not stored. */
private[graft] final case class LayoutSnapshot(
    root: String,
    id: Long,
    base: String,
    live: Map[String, Seq[String]],
    retired: Map[String, Seq[String]],
    applied: Set[String],
    ordinal: Long,
    lastCompact: Long,
    constants: Map[String, String],
    epoch: Option[Long]) {
  /** The immutable base generation the NEXT compact writes. */
  def nextBase: String = s"base-${id + 1L}"

  /** The live generation names of the relation directory `dir`. */
  def liveIn(dir: String): Seq[String] =
    live.getOrElse(LsmLayout.relationKey(root, dir), Seq.empty)

  /** Tombstone batches a reader must still anti-join. */
  def pendingTombstones: Seq[String] = live.getOrElse("tombstones", Seq.empty)

  def isApplied(gen: String): Boolean = applied.contains(gen)

  /** One build constant of the layout. */
  def constant(key: String): String =
    constants.getOrElse(key, throw new IllegalStateException(
      s"the layout record at $root holds no build constant '$key'"))
}

/** The shared maintenance protocol of the six stored LSM layouts
  * ([[LexicalIndex]], [[BandIndex]], [[KmvLayout]], [[IvfLayout]],
  * [[ChunkStore]], [[ClusterRegistry]]) — the at-least-once, commit
  * record and writer-epoch contract is written ONCE here, and each
  * layout passes in only what is its own (its writes, its fold
  * projections, its build constants):
  *
  *  - every incremental write is keyed by a CALLER-SUPPLIED batch id
  *    that becomes the generation's partition directory, written with
  *    dynamic partition overwrite — a retried batch (foreachBatch
  *    re-runs a failed micro-batch with the SAME id) REPLACES its own
  *    generation instead of appending a duplicate, whether the first
  *    attempt crashed mid-write or fully committed;
  *  - a layout's state lives in ONE place, its latest commit record
  *    ([[LayoutSnapshot]]): the applied batch ids, the live generations
  *    of every relation, the ingest ordinal and the build constants.
  *    A generation directory no record names is invisible (a crashed
  *    attempt's partial write, a build that never committed), so a read
  *    never lists a relation directory. Applied batches survive
  *    compaction (a late retry of a batch already folded must still
  *    no-op) and are cleared by a rebuild (a fresh index life may reuse
  *    batch ids). A path with no record is no layout: reading it fails
  *    and names the rebuild.
  *
  * The skeleton ([[startIndexLife]], [[ingestBatch]], [[forgetBatch]],
  * [[snapshotCompact]]) owns every step of that contract, so no layout
  * can skip one.
  *
  * Single-writer assumption: maintenance of one index path is driven
  * by one serialized loop (the foreachBatch contract) — concurrent
  * writers would race the record ids. The assumption is ENFORCED by the
  * writer-epoch fence below ([[acquireWriterEpoch]]/
  * [[requireCurrentEpoch]]): every layout's maintenance entry points
  * accept an optional `writerEpoch`, and the skeleton re-checks it
  * before every commit, so a superseded loop fails loudly instead of
  * corrupting silently (gated by WriterFencingSpec).
  *
  * Stored format: every relation a layout stores — build, generation,
  * fold and tombstone writes alike — goes through [[writeRelation]] or
  * [[writeGeneration]], which write parquet v2 data pages (per write,
  * so the session's defaults are untouched): integer columns are
  * delta- or dictionary-coded (DELTA_BINARY_PACKED, RLE_DICTIONARY),
  * which stores the sorted band values, doc ids and signatures in
  * fewer bytes than v1's plain pages. The query sinks keep the
  * session's v1 pages and INT96 timestamps: they are what the DuckDB
  * oracles read (see `graft.warehouse.Warehouse`).
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

  /** A layout path as a normalized absolute local path — what two
    * spellings of one location (relative vs absolute, `a/./b`, `a/x/../b`)
    * compare equal under. */
  private def location(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(path).toUri.getPath)
      .toAbsolutePath.normalize

  def sameLocation(a: String, b: String): Boolean = location(a) == location(b)

  /** `target` relative to the directory `base` — what a layout records
    * about a sibling layout so the tree stays relocatable. */
  def relativeLocation(base: String, target: String): String =
    location(base).relativize(location(target)).toString

  /** The key a record stores a relation under: its directory relative
    * to the layout root. */
  def relationKey(root: String, dir: String): String = {
    require(dir.startsWith(root + "/"),
      s"relation $dir is not under its layout root $root")
    dir.substring(root.length + 1)
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

  // ---- commit records --------------------------------------------------
  // A record is a few `key=value` lines; readers take the highest id.

  private def snapDir(root: String) = s"$root/_snap"

  private def recordIds(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(snapDir(root))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val listed =
      try fs.listStatus(dir)
      catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }
    listed.iterator
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .toSeq
  }

  private def noRecord(root: String, why: String) =
    new IllegalStateException(
      s"no layout at $root: $why — a build that did not finish or a tree " +
        "written before commit records; rebuild it with the layout's " +
        "build (e.g. BandIndex.build)")

  /** The latest committed record of a layout — one listing of `_snap` and
    * one tiny file read. */
  def snapshot(spark: SparkSession, root: String): LayoutSnapshot = {
    val ids = recordIds(spark, root)
    if (ids.isEmpty) throw noRecord(root, "no commit record under _snap")
    val id = ids.max
    val p = new org.apache.hadoop.fs.Path(s"${snapDir(root)}/$id")
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val kv = body.linesIterator
      .map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }
      .toMap
    if (!Seq("base", "ordinal", "lastCompact").forall(kv.contains))
      throw noRecord(root, s"_snap/$id is not a commit record")
    def names(v: String): Seq[String] = v.split(",").filter(_.nonEmpty).toSeq
    def keyed(prefix: String): Map[String, String] = kv.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    }
    LayoutSnapshot(root, id, kv("base"),
      keyed("live.").map { case (k, v) => k -> names(v) },
      keyed("retired.").map { case (k, v) => k -> names(v) },
      names(kv.getOrElse("applied", "")).toSet,
      kv("ordinal").toLong, kv("lastCompact").toLong, keyed("const."),
      kv.get("epoch").map(_.toLong))
  }

  /** Atomically commit a record: the content is written to a temp name
    * and RENAMED into place — a reader can never open a
    * created-but-not-yet-written record (create-then-write showed up as
    * an empty-file read under SnapshotCompactSpec's hammer). The temp
    * name does not parse as a record id, so readers ignore it; the
    * rename refuses an existing target, which keeps the fail-if-exists
    * property (two writers racing one layout IS the bug the writer fence
    * exists to surface — loud error, not a retry case). */
  def commitSnapshot(
      spark: SparkSession, root: String, snap: LayoutSnapshot): Unit = {
    val fs = new org.apache.hadoop.fs.Path(snapDir(root))
      .getFileSystem(spark.sessionState.newHadoopConf())
    def line(k: String, v: String) = {
      require(!v.contains('\n'), s"record value of $k holds a line break")
      s"$k=$v\n"
    }
    val body =
      line("base", snap.base) + line("ordinal", snap.ordinal.toString) +
        line("lastCompact", snap.lastCompact.toString) +
        line("applied", snap.applied.toSeq.sorted.mkString(",")) +
        snap.epoch.fold("")(e => line("epoch", e.toString)) +
        Seq("live" -> snap.live, "retired" -> snap.retired).flatMap {
          case (field, rels) => rels.toSeq.sortBy(_._1).collect {
            case (r, g) if g.nonEmpty => line(s"$field.$r", g.mkString(","))
          }
        }.mkString +
        snap.constants.toSeq.sorted.map { case (k, v) =>
          line(s"const.$k", v)
        }.mkString
    val tmp = new org.apache.hadoop.fs.Path(
      s"${snapDir(root)}/.tmp-${snap.id}")
    // a NEW inode: a temp file a crashed commit left is deleted, never
    // truncated in place — a layout tree cloned with hard links
    // (CorpusFixture) shares its files' inodes with the source tree
    fs.delete(tmp, false)
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val p = new org.apache.hadoop.fs.Path(s"${snapDir(root)}/${snap.id}")
    // the session's local file system, like HDFS, refuses a rename onto
    // an existing file (a raw POSIX rename would overwrite it); the
    // writer-epoch fence is what actually serializes writers, this turns
    // a fence-less double-commit into an error
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"record ${snap.id} already committed at $root — two writers " +
          "raced this layout (single-writer fence violation)")
  }

  /** Take back the latest record, which must be the one that applied
    * `gen`: the layout is then exactly as if that batch's data writes
    * had landed and its commit had been lost — the crash the
    * at-least-once replay repairs. */
  def dropCommit(spark: SparkSession, root: String, gen: String): Unit = {
    val snap = snapshot(spark, root)
    require(snap.isApplied(gen), s"the latest record at $root did not apply $gen")
    val p = new org.apache.hadoop.fs.Path(s"${snapDir(root)}/${snap.id}")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
    require(!snapshot(spark, root).isApplied(gen),
      s"$gen was applied before the latest record at $root")
  }

  /** Live-generation count of one relation under the current record —
    * what an auto-compaction policy compares against its threshold.
    * `counted` selects the generation names a layout's policy counts
    * (default: all). */
  def liveGenerationCount(
      spark: SparkSession, root: String, dir: String,
      counted: String => Boolean = _ => true): Int =
    snapshot(spark, root).liveIn(dir).count(counted)

  /** Read exactly the NAMED generation directories of a layout
    * relation (basePath keeps the partition column). This — not a
    * whole-directory read + isin filter — is the snapshot-safe scan
    * shape: `spark.read.parquet(dir)` lists and schema-infers over
    * EVERY footer under the directory, including superseded
    * generations a concurrent compact's GC may delete mid-inference;
    * explicit live paths never touch them (and skip listing them —
    * at scale the metadata win too).
    *
    * A relation that may legitimately have NO live generation (an
    * empty write leaves no generation directory) passes its declared
    * `empty` schema: with no names the read is an empty frame of that
    * schema, not an error. */
  def readGenerations(
      spark: SparkSession, dir: String, prefix: String,
      names: Seq[String],
      empty: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    (names, empty) match {
      case (Seq(), Some(schema)) =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case _ =>
        require(names.nonEmpty,
          s"no live generations to read under $dir (prefix $prefix)")
        spark.read.option("basePath", dir)
          .parquet(names.map(n => s"$dir/$prefix$n"): _*)
    }

  /** The live generations of the relation `dir` under `snap`. */
  def readLive(
      spark: SparkSession, snap: LayoutSnapshot, dir: String, prefix: String,
      empty: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    readGenerations(spark, dir, prefix, snap.liveIn(dir), empty)

  /** The pending forget-set under a snapshot — `None` when every
    * tombstone batch is already applied — plus its on-disk byte size:
    * the honest broadcast-budget input for the forget-path dedup joins
    * (a new batch anti-joins the ALREADY-pending ids so a re-submitted
    * doc id doesn't tombstone twice). The caller filters the frame
    * further before joining, so the bytes UPPER-bound the broadcast. */
  def pendingTombstonesSized(
      spark: SparkSession, root: String,
      snap: LayoutSnapshot): Option[(DataFrame, Long)] = {
    val live = snap.pendingTombstones
    if (live.isEmpty) None
    else Some((
      readGenerations(spark, s"$root/tombstones", "batch=", live),
      dirBytes(spark, s"$root/tombstones", live, "batch=")))
  }

  /** Anti-join the pending forget-set onto `frame` by `idName` — the
    * read-side GDPR discipline, centralized: batches a compact already
    * applied are not pending (no join in the plan), and the id list is
    * broadcast only while its backing bytes fit
    * [[broadcastBudgetBytes]] — a forget storm between compacts falls
    * back to a shuffle join instead of failing at the driver. */
  def antiJoinTombstones(
      spark: SparkSession, root: String, snap: LayoutSnapshot,
      frame: DataFrame, idName: String): DataFrame =
    pendingTombstonesSized(spark, root, snap) match {
      case None => frame
      case Some((ts, bytes)) =>
        frame.join(hintBroadcast(ts.select(col(idName)), bytes),
          Seq(idName), "left_anti")
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
    * decision input. */
  val rehydrationPruneBytes: Long = 256L << 20

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

  // ---- the maintenance skeleton ---------------------------------------
  // One spelling of the choreography every layout's build, ingest,
  // forget and compact shares; a layout passes in only its own writes.
  // Each of the four is one Trace span ("build", "ingest", "forget",
  // "compact") keyed by the layout path, and one Materialize operation
  // scope: what the operation persists or checkpoints is released when
  // it returns or throws, after every write it issued has settled.
  // Relations are named by their directory (`s"$path/postings"`) and the
  // prefix of its generation partitions ("gen=" or "batch=").

  private def operation(name: String, path: String)(body: => Unit): Unit =
    Trace(name, path)(Materialize.scoped(body))

  /** The record after an operation that wrote generation `gen` into the
    * relations `written`: each relation whose `gen` directory exists
    * (an empty write leaves none) lists it as live. */
  private def withWritten(
      spark: SparkSession, snap: LayoutSnapshot,
      written: Seq[(String, String, String)]): Map[String, Seq[String]] =
    snap.live ++ written.collect {
      case (dir, prefix, gen) if dirExists(spark, s"$dir/$prefix$gen") =>
        val key = relationKey(snap.root, dir)
        key -> (snap.live.getOrElse(key, Seq.empty).filterNot(_ == gen) :+ gen)
    }

  /** The fence check, then the record — after the operation's last data
    * write, so a superseded writer can never commit. */
  private def commit(
      spark: SparkSession, next: LayoutSnapshot,
      writerEpoch: Option[Long]): Unit = {
    requireCurrentEpoch(spark, next.root, writerEpoch)
    commitSnapshot(spark, next.root, next)
  }

  /** A build: a rebuild starts a fresh index life — everything under
    * `path` but the writer epochs is deleted (pending tombstones of the
    * previous life would hide rebuilt rows, its applied batches would
    * skip the first batch reusing an old id) — then the layout's `build`
    * writes run, and record 0 commits the `base` generation of each of
    * `rels` and the layout's `constants`. Until it commits, the path is
    * no layout. */
  def startIndexLife(
      spark: SparkSession, path: String, rels: Seq[(String, String)],
      constants: Map[String, Any] = Map.empty)(
      build: => Unit): Unit =
    operation("build", path) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(root))
        fs.listStatus(root).filterNot(_.getPath.getName == "_writer")
          .foreach(s => fs.delete(s.getPath, true))
      build
      val empty = LayoutSnapshot(path, 0L, "base", Map.empty, Map.empty,
        Set.empty, 0L, 0L, constants.map { case (k, v) => k -> v.toString },
        None)
      commitSnapshot(spark, path, empty.copy(live = withWritten(spark, empty,
        rels.map { case (dir, prefix) => (dir, prefix, "base") })))
    }

  /** The one parquet writer of every stored layout relation — see
    * "stored format" in the object doc. */
  private def writer(df: DataFrame, partitionCols: Seq[String]) = {
    val w = df.write.mode("overwrite")
      .option("parquet.writer.version", "v2")
    if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)
  }

  /** Replace the whole relation `dir` — a build's write. */
  def writeRelation(df: DataFrame, dir: String, partitionCols: String*): Unit =
    writer(df, partitionCols).parquet(dir)

  /** Write `df` into its generation partition(s) under `dir` with
    * dynamic partition overwrite — a retry replaces exactly the
    * partitions it writes, never a sibling generation. */
  def writeGeneration(df: DataFrame, dir: String, partitionCols: String*): Unit =
    writer(df, partitionCols)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dir)

  /** The applied-once ingest of one batch: unless the record lists the
    * batch as applied, run the layout's `writes` (which see the record
    * they extend) and commit the batch — generation `batchId` of every
    * relation in `rels`, the next ingest ordinal — else run
    * `whenApplied`; then, on the fresh AND the already-applied path (a
    * clean retry must still honor the budget), the s46 generation-count
    * policy (`compactAfterGenerations`, 0 = off) over the `counted` live
    * generations of the first relation in `rels`. The compact always
    * runs under the caller's writer epoch: a superseded writer must not
    * overwrite the new owner's base or clear its tombstones. */
  def ingestBatch(
      spark: SparkSession, path: String, batchId: String,
      writerEpoch: Option[Long], compactAfterGenerations: Int,
      rels: Seq[(String, String)], compact: Option[Long] => Unit,
      whenApplied: LayoutSnapshot => Unit = _ => (),
      counted: (LayoutSnapshot, String) => Boolean = (_, _) => true)(
      writes: LayoutSnapshot => Unit): Unit =
    operation("ingest", path) {
      requireValidBatchId(batchId)
      val snap = snapshot(spark, path)
      val now =
        if (!snap.isApplied(batchId)) {
          writes(snap)
          val next = snap.copy(id = snap.id + 1L,
            live = withWritten(spark, snap,
              rels.map { case (dir, prefix) => (dir, prefix, batchId) }),
            applied = snap.applied + batchId, ordinal = snap.ordinal + 1L,
            epoch = writerEpoch)
          commit(spark, next, writerEpoch)
          next
        } else {
          whenApplied(snap)
          snap
        }
      if (compactAfterGenerations > 0 &&
        now.liveIn(rels.head._1).count(counted(now, _)) >
          compactAfterGenerations)
        compact(writerEpoch)
    }

  /** The forget batch `ts-<batchId>`, idempotent at both levels: a
    * committed batch no-ops on its record; otherwise `forget` loses the
    * rows whose `storedId` is already pending (an uncommitted attempt's
    * own tombstones are not pending, so a retry recomputes the same
    * set), is checkpointed and counted once (the operation scope
    * releases the checkpoint), and the layout's `writes` get the fresh
    * rows — keyed `idName` — and the record the filter read. The commit
    * lists the batch's tombstone generation `batchId` and generation
    * `ts-<batchId>` of each of `rels`. An all-duplicate batch writes
    * nothing (an empty parquet write would leave a schemaless directory
    * that breaks the tombstone read) but still commits through the
    * fence. */
  def forgetBatch(
      spark: SparkSession, path: String, batchId: String,
      writerEpoch: Option[Long], forget: DataFrame, idName: String,
      storedId: String, rels: Seq[(String, String)] = Seq.empty)(
      writes: (DataFrame, LayoutSnapshot) => Unit): Unit =
    operation("forget", path) {
      requireValidBatchId(batchId)
      val gen = s"ts-$batchId"
      val snap = snapshot(spark, path)
      if (!snap.isApplied(gen)) {
        val fresh = pendingTombstonesSized(spark, path, snap) match {
          case None => forget
          case Some((ts, bytes)) => forget.join(
            hintBroadcast(ts.select(col(storedId).as(idName)), bytes),
            Seq(idName), "left_anti")
        }
        val (rows, _, n) = IterationCheckpoint.localCounted(fresh)
        if (n > 0L) writes(rows, snap)
        val written =
          if (n == 0L) Seq.empty
          else (s"$path/tombstones", "batch=", batchId) +:
            rels.map { case (dir, prefix) => (dir, prefix, gen) }
        commit(spark, snap.copy(id = snap.id + 1L,
          live = withWritten(spark, snap, written),
          applied = snap.applied + gen, epoch = writerEpoch), writerEpoch)
      }
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
    * registry's text ledger and private band index): with no
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
    * record being folded, the new base name to write, whether the
    * second track folds this time, and a checkpoint whose blocks the
    * compact's operation scope releases. */
  final class Fold private[LsmLayout] (
      val snap: LayoutSnapshot, val newBase: String,
      val foldSecondary: Boolean) {

    /** `df`, eagerly checkpointed (frames are checkpointed before a
      * write whose plan could otherwise re-read a path the layout is
      * rewriting). */
    def checkpointed(df: DataFrame): DataFrame =
      IterationCheckpoint.localCounted(df)._1
  }

  /** The snapshot-atomic compact every layout shares: resolve the
    * record, check the fence, pick `nextBase`, clear what a CRASHED
    * earlier attempt may have left under that name (the rewrite uses a
    * deterministic name with dynamic overwrite — if state changed
    * between attempts, the retry's rows may not cover every partition
    * the first attempt wrote, and the uncovered stale rows would be
    * served after the commit; no committed record references the name
    * yet, so the delete is invisible to readers), run the layout's
    * `folds` (independent relation writes, overlapped; the function
    * itself runs on the calling thread, so eager work it does before
    * returning precedes every write), then check the fence again and
    * COMMIT the record — each folded relation live as its new base, the
    * folded generations and the pending tombstones retired — and GC what
    * the PREVIOUS compact retired, with the records older than it.
    *
    * `rels` fold on every compact. `secondary` relations form the
    * second fold track: they fold only when [[foldDue]] — the fold sees
    * `foldSecondary` — and a skipped track keeps its live generations,
    * readable unfolded. */
  def snapshotCompact(
      spark: SparkSession, root: String, writerEpoch: Option[Long],
      rels: Seq[(String, String)],
      secondary: Seq[(String, String)] = Seq.empty)(
      folds: Fold => Seq[() => Unit]): Unit = operation("compact", root) {
    val snap = snapshot(spark, root)
    requireCurrentEpoch(spark, root, writerEpoch)
    val newBase = snap.nextBase
    (secondary ++ rels).foreach { case (dir, prefix) =>
      deleteDir(spark, s"$dir/$prefix$newBase")
    }
    val fold = new Fold(snap, newBase,
      secondary.nonEmpty && foldDue(snap.pendingTombstones,
        secondary.flatMap { case (dir, _) => snap.liveIn(dir) }.distinct.size))
    folds(fold) match {
      case Seq(only) => only()
      case many => Overlap.all(spark)(many: _*)
    }
    val folded = rels ++ (if (fold.foldSecondary) secondary else Seq.empty)
    val keys = folded.map { case (dir, _) => relationKey(root, dir) } :+
      "tombstones"
    val next = snap.copy(id = snap.id + 1L, base = newBase,
      live = withWritten(spark,
        snap.copy(live = snap.live ++ keys.map(_ -> Seq.empty)),
        folded.map { case (dir, prefix) => (dir, prefix, newBase) }),
      retired = keys.map(k => k -> snap.live.getOrElse(k, Seq.empty)).toMap,
      lastCompact = snap.id + 1L, epoch = writerEpoch)
    commit(spark, next, writerEpoch)
    gcRetired(spark, snap, secondary ++ rels, snap.pendingTombstones)
    recordIds(spark, root).filter(_ < snap.lastCompact).foreach(id =>
      deleteDir(spark, s"${snapDir(root)}/$id"))
  }

  /** Delete the generations `snap`'s compact retired: no reader of `snap`
    * or of any later record reads them. With no tombstone batch `kept`,
    * the emptied forget-set leaves no directory behind. */
  private def gcRetired(
      spark: SparkSession, snap: LayoutSnapshot,
      rels: Seq[(String, String)], kept: Seq[String]): Unit = {
    ((s"${snap.root}/tombstones", "batch=") +: rels).foreach {
      case (dir, prefix) =>
        snap.retired.getOrElse(relationKey(snap.root, dir), Seq.empty)
          .foreach(g => deleteDir(spark, s"$dir/$prefix$g"))
    }
    if (kept.isEmpty) deleteDir(spark, s"${snap.root}/tombstones")
  }

  /** A whole layout folded on the [[foldDue]] rule (the registry's
    * private band index): `compact` when due; otherwise delete what the
    * last compact retired — as a second compact cycle would, without a
    * new record — so physical removal keeps its two-cycle contract
    * through skips. */
  def compactWhenDue(
      spark: SparkSession, root: String, rels: Seq[(String, String)])(
      compact: => Unit): Unit = {
    val snap = snapshot(spark, root)
    val live = rels.flatMap { case (dir, _) => snap.liveIn(dir) }.distinct
    if (foldDue(snap.pendingTombstones, live.size)) compact
    else gcRetired(spark, snap, rels, snap.pendingTombstones)
  }

  // ---- writer fencing -----------------------------------------------
  // The single-writer assumption above is an OPERATIONAL contract; the
  // epoch fence turns its violation (two maintenance loops on one index
  // path — e.g. a stuck-then-revived driver beside its replacement)
  // from silent corruption into a loud error. A maintenance loop calls
  // [[acquireWriterEpoch]] ONCE at loop start and passes the epoch to
  // every maintenance call; each commit re-checks the fence immediately
  // before its record, so a superseded writer can never commit a batch
  // after a newer loop took over. (Its in-flight DATA write may already
  // have landed — the new owner's re-delivery of the same micro-batch id
  // overwrites that generation, per the dynamic-overwrite contract; no
  // record names it until then. What the fence guarantees is that the
  // stale loop STOPS, loudly, instead of racing the record ids forever.)
  // Epochs are never cleared — not even by a rebuild — so a revived old
  // loop stays fenced across index lives. The epoch files stay separate
  // from the records: their fail-if-exists create is the atomic step
  // that serializes the writers themselves.

  /** Claim ownership of a layout path's maintenance: returns a fresh
    * epoch strictly greater than every epoch ever issued for the path.
    * MUTUALLY EXCLUSIVE under races: the epoch file is created
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

  /** The fence check every maintenance commit runs before its record:
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
