package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored MinHash band index — the warehouse layout behind INCREMENTAL
  * near-duplicate detection (the s23/s26/s28 stored-layout discipline
  * applied to the near-dup family).
  *
  * [[MinHashNearDup]] answers "which pairs in THIS corpus are near-dups"
  * in one job; a production ingest asks a different question every
  * batch: "which docs of this delta near-duplicate something ALREADY IN
  * the corpus?" Re-sketching the indexed corpus per batch is the n50
  * anti-pattern (the incremental-dedup lesson, applied to LSH). The
  * index stores what the corpus side of the band join and the sketch
  * prefilter need, computed once at build:
  *
  *  - `postings/` (band_val, doc_id) partitioned by (`gen`, `band`) —
  *    the LSH bucket membership relation. The delta probe joins it on
  *    (band, band_val); partition dirs keep each band's postings
  *    co-located, rows sorted by band_val for row-group pruning. `gen`
  *    is the LSM generation key: "base" for the build, the caller's
  *    batch id for every [[append]] (see the idempotency contract).
  *  - `sigs/` (doc_id, sig) partitioned by `gen` — the k-minima
  *    signatures backing the estimate prefilter, joined candidate-sized
  *    only.
  *  - `meta/` one row (num_hashes, bands, shingle_n) — the index is
  *    self-describing (the round-11 LexicalIndex lesson: a disagreeing
  *    caller parameter must not be possible).
  *  - `tombstones/` (doc_id) partitioned by delete batch — the forget
  *    set (the s40 GDPR discipline applied to the LSH layout): every
  *    [[postings]]/[[signatures]] read anti-joins the broadcast id
  *    list, so a delete is visible on all probe paths immediately;
  *    [[compact]] drops the rows physically and clears the list.
  *
  * IDEMPOTENT maintenance under at-least-once delivery (the
  * foreachBatch retry contract, shared via [[LsmLayout]]): [[append]]
  * and [[tombstone]] key their writes by the caller's batch id with
  * dynamic partition overwrite — a retried batch replaces its own
  * generation instead of appending a duplicate that would multiply
  * rows through the sig join and emit duplicated probe results — and
  * leave an `_applied` marker so a clean retry no-ops (gated by n175:
  * append-with-retry ≡ rebuild through the probe answer).
  *
  * The probe never reads corpus TEXT except in the final exact-verify
  * stage, and there only candidate-sized: the candidate corpus ids are
  * semi-joined back onto the corpus (the n132 rehydration pattern), so
  * the text re-shingled per batch is O(candidates), not O(corpus).
  * Exchanges carry ids, band longs and signatures — never text
  * (plan-pinned in QueryPlansSpec).
  *
  * 100 TB shape: build is the one corpus-sized pass (map-only sketches,
  * one partitioned write); per-batch probe cost is delta-sized sketching
  * + a join against the pruned posting partitions + candidate-sized
  * verify. Appending the delta's own postings afterwards (so the next
  * batch sees it) is generation-keyed, delta-sized, merge-free because
  * postings are immutable facts. A delete does forget-set-sized work
  * (one id-list write — postings/sigs are per-doc, so no stored value
  * needs recomputing, unlike the lexical index's df fold).
  */
object BandIndex {

  /** The ONE source of truth for the default sketch geometry. The
    * registry (and any other caller that pre-computes a shared
    * [[sketchRelation]] for an index built with defaults) must derive
    * from these same constants — a second hardcoded copy could drift
    * from the stored index meta, exactly the mismatch [[metaOf]] says
    * must stay impossible. */
  private[graft] val DefaultShingleWidth = 3
  private[graft] val DefaultNumHashes = 64
  private[graft] val DefaultBands = 16

  private val BaseGen = "base"

  /** Sketch the corpus ONCE and write the postings/sigs/meta layout.
    * `preSketched` hands in an already-materialized [[sketchRelation]]
    * built with THESE exact parameters (the registry's one-sketch
    * discipline — it also feeds the batch clustering). */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleWidth: Int = DefaultShingleWidth,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      preSketched: Option[DataFrame] = None): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    LsmLayout.startIndexLife(spark, path)
    // both data writes consume the sketch: without `preSketched` it is
    // materialized here so shingling and MinHash run once, not once per
    // write. It is left to the runner sweep (the Materialize contract),
    // not unpersisted here: the cache is keyed by plan, so an equal
    // sketch a concurrent caller cached (the registry build over the
    // same docs) is this same entry, and unpersisting it here would drop
    // the caller's cache under it.
    val sk = preSketched.getOrElse(Materialize.shared(sketchRelation(
      docs, idCol, textCol, shingleWidth, numHashes, bands)))
    // sigs/, postings/ and meta/ are disjoint relations (the first two
    // derive from the same sketch, meta is a one-row literal) — write
    // all three CONCURRENTLY (the wall is the largest write, not the
    // sum; the materialized sketch is computed once under the block
    // manager's per-block lock). A crashed partial build was never
    // servable in any ordering — builds clear the markers/snapshot
    // first and carry no marker of their own.
    Overlap.all(spark)(
      () => sk.select(col("doc_id"), col("sig"))
        .withColumn("gen", lit(BaseGen))
        .write.mode("overwrite").partitionBy("gen").parquet(s"$path/sigs"),
      () => sk
        .select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "band_val")))
        .withColumn("gen", lit(BaseGen))
        .repartition(col("band"))
        .sortWithinPartitions(col("band_val"))
        .write.mode("overwrite").partitionBy("gen", "band")
        .parquet(s"$path/postings"),
      () => spark.range(1)
        .select(lit(numHashes.toLong).as("num_hashes"),
          lit(bands.toLong).as("bands"),
          lit(shingleWidth.toLong).as("shingle_n"))
        .write.mode("overwrite").parquet(s"$path/meta"))
  }

  /** Index the delta batch too (the next batch must see this one):
    * postings/sigs are immutable per-doc facts — delta-sized writes, no
    * merge, no read-side fold. Keyed by `batchId` and written with
    * dynamic overwrite + an applied marker, so an at-least-once retry
    * replaces-or-skips instead of duplicating the generation (which
    * would multiply probe rows through the signature join). */
  def append(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None,
      preSketched: Option[DataFrame] = None): Unit = {
    val spark = delta.sparkSession
    // file-count hygiene under continuous ingest (the s46 policy):
    // postings/sigs need no read-side fold — generations only multiply
    // the files/dirs a probe lists — so the bound is about scan
    // metadata, not answer shape
    LsmLayout.ingestBatch(spark, path, batchId, writerEpoch,
      compactAfterGenerations, s"$path/sigs", "gen=",
      compact(spark, path, _)) {
      val (numHashes, bands, shingleWidth) = metaOf(spark, path)
      // preSketched: the caller already built (and materialized) the
      // delta's [[sketchRelation]] with THIS index's meta — reuse it
      // instead of re-running the scan→shingle→sketch chain
      val sk = preSketched.getOrElse(sketchRelation(
        delta, idCol, textCol, shingleWidth, numHashes, bands))
      // disjoint generation directories under disjoint relations —
      // the two delta-sized writes overlap (the build discipline); the
      // applied marker still lands only after BOTH settle
      Overlap.all(spark)(
        () => LsmLayout.writeGeneration(
          sk.select(col("doc_id"), col("sig")).withColumn("gen", lit(batchId)),
          s"$path/sigs", "gen"),
        () => LsmLayout.writeGeneration(
          sk.select(col("doc_id"),
              posexplode(col("bh")).as(Seq("band", "band_val")))
            .withColumn("gen", lit(batchId))
            .repartition(col("band"))
            .sortWithinPartitions(col("band_val")),
          s"$path/postings", "gen", "band"))
    }
  }

  /** Right-to-be-forgotten deletes (the s40 discipline applied to the
    * LSH layout): the forget-set becomes a tombstone id list that every
    * [[postings]]/[[signatures]] read anti-joins — forget-set-sized
    * work, nothing stored rewritten; band postings and signatures are
    * PER-DOC facts, so unlike the lexical index there is no df-style
    * aggregate to correct. [[compact]] later drops the rows physically.
    * Idempotent at both levels (ids already tombstoned are filtered
    * out; the batch partition overwrites itself under retry; a
    * committed batch no-ops on its marker). */
  def tombstone(
      forgetIds: DataFrame,
      idCol: String,
      path: String,
      batchId: String,
      writerEpoch: Option[Long] = None): Unit =
    LsmLayout.tombstoneIds(forgetIds, idCol, "doc_id", path, batchId,
      writerEpoch)

  /** Fold the layout back to one generation and drop tombstoned rows
    * physically (the LSM compaction half) — SNAPSHOT-ATOMICALLY for
    * concurrent readers: the fold is written as a brand-new immutable
    * `base-<id>` generation for BOTH relations, then ONE manifest flip
    * makes postings and signatures visible together (a reader never
    * sees a compacted postings side beside an un-compacted signature
    * side, nor a partially-rewritten base); directories only the
    * PREVIOUS snapshot had stopped referencing are deleted, so a
    * reader holding either snapshot scans intact files. Applied
    * markers are KEPT (a late retry of a pre-compact batch must still
    * no-op). `writerEpoch` fences the flip and the GC — a superseded
    * writer's compact must not overwrite the new owner's base or
    * delete its tombstones (frames are checkpointed before each write;
    * a parquet path cannot be overwritten while a live plan reads it). */
  def compact(
      spark: SparkSession, path: String,
      writerEpoch: Option[Long] = None): Unit =
    // the two relation folds are independent (disjoint read and write
    // directories) — they overlap; the manifest flip covers both
    LsmLayout.snapshotCompact(spark, path, writerEpoch,
      foldedRelations(path)) { fold =>
      Seq(
        () => LsmLayout.writeGeneration(
          fold.checkpointed(postingsScoped(spark, path, None, fold.snap))
            .withColumn("gen", lit(fold.newBase))
            .repartition(col("band")).sortWithinPartitions(col("band_val")),
          s"$path/postings", "gen", "band"),
        () => LsmLayout.writeGeneration(
          fold.checkpointed(signaturesScoped(spark, path, None, fold.snap))
            .withColumn("gen", lit(fold.newBase)),
          s"$path/sigs", "gen"))
    }

  /** The two relations a compact folds (and its GC sweeps). */
  private[operators] def foldedRelations(path: String): Seq[(String, String)] =
    Seq((s"$path/postings", "gen="), (s"$path/sigs", "gen="))

  /** Delta-vs-corpus near-dup pairs served from the stored index:
    * (delta_id, corpus_id, jaccard) for every delta doc whose exact
    * word-shingle Jaccard against an indexed doc reaches `threshold`
    * (up to the LSH band geometry's negligible false-negative mass —
    * the [[MinHashNearDup]] probabilistic contract; false positives are
    * removed by the exact verify). `corpus` is the indexed relation the
    * candidate TEXT rehydrates from; only candidate ids touch it.
    *
    * Cache note: the delta sketch relation is persisted via
    * Materialize.shared (it feeds the band join, the prefilter and the
    * verify); the blocks are released by the runner sweep
    * ([[Materialize]]'s release contract) once the returned frame is
    * consumed.
    */
  /** `corpusBucket` — the rehydration-pruning hook: `(bucketColName,
    * bucketOf)` where `bucketColName` is a PHYSICAL partition column
    * the corpus relation carries and `bucketOf(id)` derives its value
    * from an id column (the ClusterRegistry ledger hands its own
    * bucket function in, so write and probe sides cannot drift). When
    * set, the exact-verify's candidate semi-join includes the bucket
    * equi-condition, and dynamic partition pruning cuts the corpus
    * TEXT scan to the candidate ids' bucket directories — a
    * micro-batch verify reads a few buckets of text, never the whole
    * corpus. Absent (an unbucketed caller relation), the join is
    * id-only as before. */
  def probe(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double,
      excludeGen: Option[String] = None,
      preSketched: Option[DataFrame] = None,
      corpusBucket: Option[(String, Column => Column)] = None)
      : DataFrame = {
    // excludeGen: skip one stored generation on the index side —
    // the ingest-then-append maintenance loop (ClusterRegistry) probes
    // BEFORE appending the delta's own generation, and a RETRY of that
    // loop must not see the partial generation a crashed first attempt
    // left behind (the delta would probe against itself and the
    // output would stop being deterministic under replay)
    val spark = delta.sparkSession
    val (numHashes, bands, shingleWidth) = metaOf(spark, path)
    // ONE snapshot resolution for the whole probe — the postings join
    // and the signature prefilter must read the SAME committed state
    // even if a compact flips the manifest mid-planning
    val snap = LsmLayout.snapshot(spark, path)

    // delta side: map-only fused sketch + its shingle sets, computed
    // once and reused by the prefilter and the exact verify — or, via
    // `preSketched`, handed in by a caller that already built and
    // materialized the delta's [[sketchRelation]] for other stages
    // (the registry ingest's one-sketch-three-consumers discipline)
    val dsk = preSketched
      .map(_.withColumnRenamed("doc_id", "delta_id"))
      .getOrElse(Materialize.shared(
        sketchRelation(delta, idCol, textCol, shingleWidth, numHashes,
          bands)
          .withColumnRenamed("doc_id", "delta_id")))

    val deltaBands = dsk
      .select(col("delta_id"), posexplode(col("bh")).as(Seq("band", "band_val")))

    // the band join against the STORED postings — the only stage that
    // touches the index's corpus-sized relation, and it reads two longs
    // + an id per row
    val candidates = deltaBands
      .join(postingsScoped(spark, path, excludeGen, snap),
        Seq("band", "band_val"))
      .select(col("delta_id"), col("doc_id").as("corpus_id"))
      .distinct()

    // sketch-estimate prefilter (MinHashNearDup's 2.5σ margin) — the
    // corpus signatures come from the index, candidate-sized
    val sigMargin = 2.5 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val minMatches = math.floor((threshold - sigMargin) * numHashes).toLong
    val plausible = candidates
      .join(dsk.select(col("delta_id"), col("sig").as("sig_d")), "delta_id")
      .join(signaturesScoped(spark, path, excludeGen, snap)
        .select(col("doc_id").as("corpus_id"), col("sig").as("sig_c")),
        "corpus_id")
      .withColumn("est",
        expr("size(filter(zip_with(sig_d, sig_c, (x, y) -> x = y), v -> v))"))
      .filter(col("est") >= minMatches)
      .select(col("delta_id"), col("corpus_id"))

    // exact verify: corpus text rehydrated CANDIDATE-sized (semi-join
    // on the candidate ids — and, when the corpus is bucketed, on the
    // bucket too, so the broadcast semi-join's dynamic pruning filter
    // reaches the scan's partition directories), then the exact
    // integer Jaccard
    val candIds = plausible.select(col("corpus_id")).distinct()
    val candCorpus = corpusBucket
      .fold(
        corpus.join(candIds, col(idCol) === col("corpus_id"), "left_semi")
      ) { case (bucketCol, bucketOf) =>
        corpus.join(
          candIds.withColumn("graft__cb", bucketOf(col("corpus_id"))),
          col(idCol) === col("corpus_id") &&
            col(bucketCol) === col("graft__cb"),
          "left_semi")
      }
      .select(col(idCol).as("corpus_id"),
        TextOps.shinglesFromTokens(
          TextOps.tokens(col(textCol)), shingleWidth).as("sh_c"))

    plausible
      .join(dsk.select(col("delta_id"), col("sh").as("sh_d")), "delta_id")
      .join(candCorpus, "corpus_id")
      .withColumn("inter",
        size(array_intersect(col("sh_d"), col("sh_c"))).cast("long"))
      .withColumn("uni",
        size(col("sh_d")).cast("long") + size(col("sh_c")).cast("long") -
          col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }

  /** Driver-side twin of `graft_minhash_sig` for a LITERAL query text
    * (the s31 probe-set argument: a serving path receives the query as
    * a literal, so its sketch is plan-time arithmetic, not a data
    * scan). Same xxhash64(seed 42) & 0x7fffffff input hash, same
    * (a·h + b) mod P fold, same Long.MaxValue empty minima —
    * bit-parity with the engine expression is law-tested in
    * BandIndexSpec. */
  private[graft] def literalSignature(
      shingles: Seq[String], numHashes: Int): Array[Long] = {
    val a = graft.functions.SketchAggregates.coefA(numHashes)
    val b = graft.functions.SketchAggregates.coefB(numHashes)
    val m = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L) &
        0x7fffffffL
      var j = 0
      while (j < numHashes) {
        val x = (a(j) * h + b(j)) % graft.functions.SketchAggregates.P
        if (x < m(j)) m(j) = x
        j += 1
      }
    }
    m
  }

  /** Driver-side twin of `graft_minhash_band_mix` (same FNV-1a offset
    * basis/prime, same band-major slice order). */
  private[graft] def literalBands(sig: Array[Long], bands: Int): Array[Long] = {
    require(sig.length % bands == 0, "bands must divide signature length")
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var acc = 0xcbf29ce484222325L
      var r = 0
      while (r < rows) {
        acc = (acc ^ sig(b * rows + r)) * 0x100000001b3L
        r += 1
      }
      acc
    }
  }

  /** Single-document serving probe: "is THIS text a near-dup of
    * anything indexed?" — the s31 point-probe discipline applied to
    * the LSH layout. The query is sketched DRIVER-SIDE (plan-time
    * constants), so the probe plan is: one postings scan with the
    * 16 (band = b AND band_val = v) equalities PUSHED to the parquet
    * reader (the band partition dirs bound the scan, the band_val
    * sort gives row-group min/max pruning within each band — this is
    * the scan shape the sorted layout exists for), then a
    * candidate-sized signature prefilter against a LITERAL sig array,
    * then the exact candidate-sized text verify. Nothing corpus-sized
    * is computed at serve time; returns (doc_id, jaccard) ≥ threshold.
    */
  def pointProbe(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      queryText: String,
      threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    val (numHashes, bands, shingleWidth) = metaOf(spark, path)
    val snap = LsmLayout.snapshot(spark, path)
    val qsh = LexicalIndex.literalShingles(queryText, shingleWidth)
    require(qsh.nonEmpty,
      s"query shorter than the shingle width: $queryText")
    val sig = literalSignature(qsh, numHashes)
    val bvals = literalBands(sig, bands)
    // one equality pair per band — an OR-of-ANDs the reader prunes with
    val bandPred = bvals.zipWithIndex.map { case (v, b) =>
      col("band") === b && col("band_val") === v
    }.reduce(_ || _)
    val candidates = postingsScoped(spark, path, None, snap)
      .filter(bandPred)
      .select(col("doc_id"))
      .distinct()
    val sigMargin = 2.5 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val minMatches = math.floor((threshold - sigMargin) * numHashes).toLong
    val sigLit = array(sig.map(lit): _*)
    val plausible = signaturesScoped(spark, path, None, snap)
      .join(broadcast(candidates), Seq("doc_id"))
      .withColumn("graft__est",
        size(filter(zip_with(col("sig"), sigLit, (x, y) => x === y),
          v => v)))
      .filter(col("graft__est") >= minMatches)
      .select(col("doc_id"))
    val qshLit = array(qsh.map(lit): _*)
    corpus
      .join(broadcast(plausible.withColumnRenamed("doc_id", "graft__cand")),
        col(idCol) === col("graft__cand"), "left_semi")
      .select(col(idCol).as("doc_id"),
        TextOps.shinglesFromTokens(
          TextOps.tokens(col(textCol)), shingleWidth).as("graft__sh"))
      .withColumn("graft__i",
        size(array_intersect(col("graft__sh"), qshLit)).cast("long"))
      .withColumn("jaccard",
        col("graft__i").cast("double") /
          (size(col("graft__sh")).cast("long") + lit(qsh.length.toLong) -
            col("graft__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_id"))
  }

  /** The stored band-membership relation (band, band_val, doc_id),
    * minus tombstoned documents when a forget-set is pending — every
    * probe routes through here, so a [[tombstone]] is visible on all
    * serving paths before [[compact]] rewrites anything. Reads resolve
    * the layout SNAPSHOT once: superseded base generations and folded
    * generations awaiting GC are invisible. */
  def postings(spark: SparkSession, path: String): DataFrame =
    postingsScoped(spark, path, None, LsmLayout.snapshot(spark, path))

  private def postingsScoped(
      spark: SparkSession, path: String,
      excludeGen: Option[String], snap: LayoutSnapshot): DataFrame = {
    val live = LsmLayout
      .liveGenerationNames(spark, s"$path/postings", "gen=", snap)
      .filterNot(excludeGen.contains)
    val post = LsmLayout
      .readGenerations(spark, s"$path/postings", "gen=", live)
      .drop("gen")
    LsmLayout.antiJoinTombstones(spark, path, snap, post, "doc_id")
  }

  /** The stored signature relation (doc_id, sig), tombstones applied —
    * the prefilter's corpus side. */
  def signatures(spark: SparkSession, path: String): DataFrame =
    signaturesScoped(spark, path, None, LsmLayout.snapshot(spark, path))

  private def signaturesScoped(
      spark: SparkSession, path: String,
      excludeGen: Option[String], snap: LayoutSnapshot): DataFrame = {
    val live = LsmLayout
      .liveGenerationNames(spark, s"$path/sigs", "gen=", snap)
      .filterNot(excludeGen.contains)
    val sigs = LsmLayout
      .readGenerations(spark, s"$path/sigs", "gen=", live)
      .drop("gen")
    LsmLayout.antiJoinTombstones(spark, path, snap, sigs, "doc_id")
  }

  /** Reclamation report (the deadChunkStats pattern on the LSH side):
    * live vs dead POSTING rows, dead = rows of pending-tombstoned docs
    * still physically present — the forget mass every probe's band
    * join scans and anti-joins until a compact drops it. The
    * data-aware compact trigger the generation-count rule cannot see
    * (one generation, half the docs forgotten → count rule never
    * fires). One narrow doc_id scan over the pruned live generations. */
  def deadRowStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/postings", "gen=", snap)
    LsmLayout.deadRowStats(spark, path, snap,
      LsmLayout.readGenerations(spark, s"$path/postings", "gen=", live)
        .select(col("doc_id")),
      "doc_id")
  }

  /** Layout constants (num_hashes, bands, shingle_n) — one meta row of
    * plan-time metadata, like the s23 probe-set derivation. Exposed to
    * the registry so a shared sketch is built with the INDEX's own
    * parameters (a disagreeing caller must stay impossible). */
  private[graft] def metaOf(
      spark: SparkSession, path: String): (Int, Int, Int) = {
    val m = LsmLayout.cachedMetaRow(spark, s"$path/meta")
    (m.getAs[Long]("num_hashes").toInt, m.getAs[Long]("bands").toInt,
      m.getAs[Long]("shingle_n").toInt)
  }

  /** The full per-doc sketch relation (doc_id, sh, sig, bh) — the ONE
    * map-only chain every band-family stage derives from. Exposed so a
    * caller driving several stages over the same docs (the registry's
    * ingest: index probe + within-delta pairs + index append) can
    * compute and materialize it ONCE and pass it to each stage's
    * `preSketched` hook instead of re-running scan→shingle→sketch per
    * consumer. */
  private[graft] def sketchRelation(
      docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int, numHashes: Int, bands: Int): DataFrame =
    Partitioning.spread(docs)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("graft__ws"))
      .select(col("doc_id"),
        TextOps.shinglesFromTokens(col("graft__ws"), shingleWidth).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        expr(s"graft_minhash_sig(sh, $numHashes)").as("sig"))
      .withColumn("bh", expr(s"graft_minhash_band_mix(sig, $bands)"))
}
