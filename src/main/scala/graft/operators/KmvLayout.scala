package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored per-group KMV sketches — the warehouse-layout discipline
  * (s23/s26/s28/s37) applied to the sketch family. Cross-source
  * distinct-overlap questions ("how much of source B is already in
  * A?", the n157 estimator) should not re-shingle the corpus per ask:
  * the bottom-k sketches are tiny (k longs per unit), pure functions
  * of each unit's distinct hash set, and MERGEABLE — bottom-k(A ⊎ B)
  * == trim_k(bottom-k(A) ∪ bottom-k(B)) (the KmvAgg mergeability law)
  * — so they are an ideal stored index with EXACT incremental
  * maintenance, never approximate-on-approximate.
  *
  * Granularity: one stored sketch per (group, doc) — not per group.
  * Mergeability makes the group sketch a fold over its docs' sketches,
  * and the per-doc rows are what make DELETES exact: a forgotten doc's
  * contribution is its own row, so tombstone-at-serve (anti-join the
  * forget ids before the fold) answers exactly as a rebuild over the
  * remaining corpus — a group-level sketch could never subtract a doc
  * (bottom-k is not invertible). The price is the fold at read time
  * (k longs per doc, one map-side-partial aggregate over a narrow
  * relation — ~0.5 KB/doc at k = 64); a serve-heavy deployment can
  * layer a folded per-group cache rebuilt at [[compact]] at the cost
  * of delete latency — not stored here because the uncached fold is
  * the one that stays correct under every maintenance interleaving.
  *
  * Layout under `path`:
  *  - `sketches/` (group, doc_id, sk: array<bigint>, gen: bigint)
  *    partitioned by `batch` — one row per doc per maintenance batch;
  *    `gen` is the monotone generation number [[sketches]]' `asOf`
  *    snapshot reads filter on, `batch` the idempotency key;
  *  - the build constants (k, hash_salt) in the commit record —
  *    self-describing: a disagreeing caller k would silently produce
  *    valid-looking but non-comparable sketches;
  *  - `tombstones/` (doc_id) partitioned by delete batch — the forget
  *    set every read anti-joins (GDPR deletes apply to ALL reads,
  *    including time-travel snapshots).
  *
  * IDEMPOTENT maintenance under at-least-once delivery (the
  * [[LsmLayout]] contract); the generation number is the record's next
  * ingest ordinal, so a retry re-stamps the same gen.
  *
  * Serving reads fold generations and answer overlap matrices entirely
  * from the stored layout: the folded relation is groups-sized, the
  * pair join is a broadcast self-join, and every estimate is the n157
  * exact-integer algebra — bit-identical to a from-scratch closed-form
  * replay (oracle-gated: s41 refresh ≡ rebuild, s43 time travel,
  * s45 forget ≡ rebuild-on-remaining).
  */
object KmvLayout {

  private val BaseBatch = "base"

  private def tokenHashes(
      docs: DataFrame, groupCol: String, idCol: String, textCol: String,
      salt: String): DataFrame =
    docs.select(col(groupCol).as("group"), col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("graft__w"))
      .select(col("group"), col("doc_id"),
        TextOps.hexHash60(concat(lit(salt), col("graft__w"))).as("graft__h"))

  private def docSketches(
      docs: DataFrame, groupCol: String, idCol: String, textCol: String,
      salt: String, k: Int): DataFrame =
    tokenHashes(docs, groupCol, idCol, textCol, salt)
      .groupBy(col("group"), col("doc_id"))
      .agg(expr(s"graft_kmv(graft__h, $k)").as("sk"))

  def build(
      docs: DataFrame, groupCol: String, idCol: String, textCol: String,
      path: String, k: Int = 64, salt: String = "kmvl:"): Unit = {
    val spark = docs.sparkSession
    LsmLayout.startIndexLife(spark, path, sketchRelation(path),
      Map("k" -> k, "hash_salt" -> salt)) {
      LsmLayout.writeRelation(
        docSketches(docs, groupCol, idCol, textCol, salt, k)
          .withColumn("gen", lit(0L))
          .withColumn("batch", lit(BaseBatch)),
        s"$path/sketches", "batch")
    }
  }

  /** Delta refresh: sketch the delta ONLY (per doc) and write its
    * generation — delta-sized work; the mergeability law makes the
    * folded read exact. The generation number is the next ingest
    * ordinal, so an at-least-once retry re-stamps the same gen and the
    * dynamic overwrite replaces rather than duplicates; a committed
    * batch no-ops on its record. */
  def refresh(
      delta: DataFrame, groupCol: String, idCol: String, textCol: String,
      path: String, batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    // file-count hygiene (the s46 policy): membership pins SURVIVE the
    // compact (per-row gens are preserved through the fold), so the
    // threshold is purely a file-hygiene knob here
    LsmLayout.ingestBatch(spark, path, batchId, writerEpoch,
      compactAfterGenerations, sketchRelation(path),
      compact(spark, path, _)) { snap =>
      // the record's ingest ordinal: never restarts at a compact — so
      // pins stay unambiguous across compact boundaries and aligned with
      // the coordinator's other layouts — and a retry re-stamps the same
      // gen, with no data read
      LsmLayout.writeGeneration(
        docSketches(delta, groupCol, idCol, textCol,
          snap.constant("hash_salt"), snap.constant("k").toInt)
          .withColumn("gen", lit(snap.ordinal + 1L))
          .withColumn("batch", lit(batchId)),
        s"$path/sketches", "batch")
    }
  }

  /** Right-to-be-forgotten deletes (the s40 discipline applied to the
    * sketch layout): the forget-set becomes a tombstone id list that
    * every [[sketches]] read anti-joins BEFORE the group fold —
    * forget-set-sized work, nothing stored rewritten, and the served
    * answer equals a rebuild over the remaining corpus EXACTLY because
    * the stored granularity is per-doc (mergeability re-folds the
    * survivors; a group whose docs are all forgotten leaves the
    * matrix). [[compact]] later drops the rows physically. Idempotent
    * at both levels (already-tombstoned ids filtered; batch partition
    * overwrites itself; committed batch no-ops on its record). */
  def tombstone(
      forgetIds: DataFrame, idCol: String,
      path: String, batchId: String,
      writerEpoch: Option[Long] = None): Unit =
    LsmLayout.tombstoneIds(forgetIds, idCol, "doc_id", path, batchId,
      writerEpoch)

  /** Physically drop tombstoned rows and fold the per-doc rows into
    * one generation directory (file-count hygiene; the per-doc
    * granularity is KEPT — it is the deletability index). Time-travel
    * pins SURVIVE: per-row `gen` stamps are preserved through the
    * fold, so `asOf` keeps resolving membership exactly across any
    * number of compacts (what physically leaves is tombstoned rows —
    * GDPR outranks pins, the s43 rule).
    * Applied batches are kept so late retries of folded batches
    * still no-op. SNAPSHOT-ATOMIC for concurrent readers (the shared
    * discipline): new immutable base generation + one manifest flip +
    * one-cycle-deferred GC; `writerEpoch` fences the flip and the GC. */
  def compact(
      spark: SparkSession, path: String,
      writerEpoch: Option[Long] = None): Unit = {
    // per-row `gen` is PRESERVED through the fold (each doc's sketch is
    // written once, at its ingest — the re-ingest contract): a pin
    // `asOf = g` therefore keeps answering with exactly the docs
    // ingested by generation g even after any number of compacts.
    // What a compact still collapses is VERSION history the layout
    // never had (per-doc sketches are immutable facts), so time travel
    // here is membership-exact, not merely post-compact (gated by the
    // s43 oracle, which now compacts between the refresh and the pin).
    LsmLayout.snapshotCompact(spark, path, writerEpoch,
      sketchRelation(path)) { fold =>
      Seq(() => LsmLayout.writeGeneration(
        fold.checkpointed(docRowsScoped(spark, path, fold.snap)
          .select(col("group"), col("doc_id"), col("sk"), col("gen")))
          .withColumn("batch", lit(fold.newBase)),
        s"$path/sketches", "batch"))
    }
  }

  /** Reclamation report (the deadChunkStats pattern on the sketch
    * side): live vs dead per-doc SKETCH rows, dead = rows of
    * pending-tombstoned docs still physically present — the forget
    * mass every group fold scans and anti-joins until a compact drops
    * it. One narrow doc_id scan over the live generations. */
  def deadRowStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    LsmLayout.deadRowStats(spark, path, snap,
      LsmLayout.readLive(spark, snap, s"$path/sketches", "batch=")
        .select(col("doc_id")),
      "doc_id")
  }

  /** The distinct ids of every doc contributing a surviving sketch row
    * — the doc-population view the corpus consistency audit compares
    * (the serving relations themselves are group-keyed folds). One
    * narrow id-column scan, tombstones applied. */
  def servedDocIds(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val rows = docRowsScoped(spark, path, LsmLayout.snapshot(spark, path))
    asOf.fold(rows)(g => rows.filter(col("gen") <= g))
      .select(col("doc_id")).distinct()
  }

  /** The stored per-doc sketch rows of a record, tombstones applied. */
  private def docRowsScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame =
    LsmLayout.antiJoinTombstones(spark, path, snap,
      LsmLayout.readLive(spark, snap, s"$path/sketches", "batch="),
      "doc_id")

  /** The one relation every build, refresh and compact writes. */
  private def sketchRelation(path: String) = Seq((s"$path/sketches", "batch="))

  /** The folded logical sketch relation: one row per group, the
    * surviving per-doc sketches merged by re-sketching the union of
    * stored sketch values (exact by mergeability; input is k longs per
    * doc, one map-side-partial aggregate). `asOf` gives SNAPSHOT
    * ISOLATION for free — generations are immutable appends, so "the
    * index as of generation g" is a filter, not a restore: asOf(Some(0))
    * reads exactly the original build no matter how many refreshes
    * landed since (gated by s43). Tombstones apply to every snapshot —
    * a GDPR delete reaches time-travel reads too. */
  def sketches(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val k = snap.constant("k").toInt
    val base = docRowsScoped(spark, path, snap)
    asOf.fold(base)(g => base.filter(col("gen") <= g))
      .select(col("group"), explode(col("sk")).as("graft__h"))
      .groupBy(col("group"))
      .agg(expr(s"graft_kmv(graft__h, $k)").as("sk"))
  }

  /** Pairwise distinct-overlap estimates for every group pair, served
    * entirely from the stored sketches — the n157 combined-k estimator
    * as exact-integer algebra over a broadcast groups-sized self-join.
    */
  def overlapMatrix(
      spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val k = LsmLayout.snapshot(spark, path).constant("k").toInt
    val sk = sketches(spark, path, asOf)
    sk.select(col("group").as("source_a"), col("sk").as("graft__ska"))
      .join(broadcast(
        sk.select(col("group").as("source_b"), col("sk").as("graft__skb"))),
        col("source_a") < col("source_b"))
      .withColumn("graft__un",
        array_sort(array_distinct(concat(col("graft__ska"), col("graft__skb")))))
      .withColumn("kk", least(size(col("graft__un")), lit(k)).cast("long"))
      .withColumn("graft__kl", slice(col("graft__un"), 1, k))
      .withColumn("shared_k",
        size(array_intersect(array_intersect(col("graft__kl"), col("graft__ska")),
          col("graft__skb"))).cast("long"))
      .select(col("source_a"), col("source_b"), col("kk"), col("shared_k"),
        (col("shared_k") / col("kk")).as("j_est"))
  }
}
