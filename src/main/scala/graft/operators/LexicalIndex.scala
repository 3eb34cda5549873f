package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Stored inverted shingle index — the warehouse layout behind lexical
  * retrieval serving (the s23/s26 discipline applied to the text side).
  *
  * The ad-hoc lexical queries (idf top-k, more-like-this, the RRF
  * lexical leg) rebuild the corpus shingle stream per query; the
  * measured wall of that family IS the per-row shingle build. At 100 TB
  * the shingle relation is an INDEX: computed once at build time and
  * stored, so a serving probe scans (doc_id, shingle, ns) — never the
  * corpus text.
  *
  * Layout under `path`:
  *  - `postings/` (doc_id, ns, dl, shingle, tf) partitioned by
  *    `bucket` = pmod(hash60(shingle), buckets), each bucket sorted by
  *    shingle — bucket dirs give catalog pruning for point-shingle
  *    probes, the sort gives parquet row-group min/max pruning within
  *    a bucket, and co-partitioned index↔index joins (bucket, shingle)
  *    never shuffle the posting stream. Per-doc stats are denormalized
  *    onto each posting so no probe needs a second doc table: `ns`
  *    (distinct-gram count) serves Jaccard, `dl` (token length) and
  *    `tf` (within-doc occurrences) serve BM25.
  *  - `meta/` one row per generation (n_docs, n_tokens) — the corpus
  *    sizes the idf ratio and the BM25 length normalization need
  *    (counted over documents, not postings: docs shorter than the
  *    shingle width have no postings but still count). The layout
  *    constants (shingle_n, buckets) are in the commit record.
  *
  * Document frequency is not stored: a shingle's df is the length of
  * its LIVE posting list (postings minus pending tombstones), which
  * every serving path reads anyway for the query's shingles — so it is
  * counted there, and [[lexicon]] is that count as a view. No second
  * relation has to be written, folded or kept consistent with the
  * postings.
  *
  * Serving probes are index-only: the query doc's shingles come from
  * the postings themselves (pushed doc_id filter), broadcast, and the
  * corpus side is one doc-keyed partial aggregate + TakeOrdered — the
  * n114/n118 shapes with the build amortized away. Plan-pinned
  * (QueryPlansSpec): no scan in a probe plan reads a text column.
  */
object LexicalIndex {

  /** One posting row per distinct (doc, gram): (doc_id, ns = the doc's
    * distinct-gram count, dl = the doc's TOKEN length, shingle,
    * tf = within-doc occurrence count, bucket). ns serves Jaccard, dl
    * and tf serve BM25-style length/frequency normalization — all
    * denormalized at build so no probe needs a second table. The fused
    * graft_shingle_tfs expression emits the counted distinct set in one
    * pass, so tf costs NO extra aggregate. */
  private def postingProjection(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, buckets: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("graft__ws"))
      .select(col("doc_id"),
        size(col("graft__ws")).cast("long").as("dl"),
        expr(s"graft_shingle_tfs(graft__ws, $n)").as("graft__ts"))
      .select(col("doc_id"),
        size(col("graft__ts")).cast("long").as("ns"),
        col("dl"),
        explode(col("graft__ts")).as("graft__g"))
      .select(col("doc_id"), col("ns"), col("dl"),
        col("graft__g.sh").as("shingle"),
        col("graft__g.tf").as("tf"))
      .withColumn("bucket",
        pmod(TextOps.hexHash60(col("shingle")), lit(buckets.toLong)))

  /** Shingle the corpus ONCE and write the postings/meta layout. The
    * postings stream is repartitioned by bucket before the partitioned
    * write so each task writes one bucket directory (no small-files
    * fan-out) with shingle-sorted row groups. */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 3,
      buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    // a rebuild starts a fresh index life (stale tombstones would
    // silently exclude rebuilt postings while the fresh meta still
    // counts them)
    LsmLayout.startIndexLife(spark, path,
      Seq((s"$path/meta", "gen="), (s"$path/postings", "gen=")),
      Map("shingle_n" -> n, "buckets" -> buckets)) {
      // meta/ counts the DOCS, not the postings (docs shorter than the
      // shingle width have no postings but still count), so its corpus
      // scan runs CONCURRENTLY with the postings write
      Overlap.all(spark)(
        () => LsmLayout.writeRelation(
          bucketed(postingProjection(docs, idCol, textCol, n, buckets)
            .withColumn("gen", lit(BaseGen))),
          s"$path/postings", "gen", "bucket"),
        () => LsmLayout.writeRelation(
          metaGeneration(docs, textCol, BaseGen, identity),
          s"$path/meta", "gen"))
    }
  }

  /** The generation name the one-shot [[build]] writes. Incremental
    * writers key their generations by CALLER-SUPPLIED batch id —
    * the idempotency contract (see [[refresh]]). */
  private val BaseGen = "base"

  /** What the auto-compaction policies count: the live meta generations
    * (one per build, refresh and forget batch) that [[countedGeneration]]
    * selects. */
  private[graft] def generationCount(
      spark: SparkSession, path: String): Int = {
    val snap = LsmLayout.snapshot(spark, path)
    snap.liveIn(s"$path/meta").count(countedGeneration(path)(snap, _))
  }

  /** Whether the live meta generation `g` counts as a generation: the
    * base, every forget batch, and every refresh batch that appended
    * postings. A refresh whose docs are all shorter than the shingle
    * width adds a meta row but nothing a probe scans, so it does not
    * count. */
  private def countedGeneration(path: String)(
      snap: LayoutSnapshot, g: String): Boolean =
    LsmLayout.isBaseName(g) || g.startsWith("ts-") ||
      snap.liveIn(s"$path/postings").contains(g)

  /** The live postings generations of a snapshot (the second fold
    * track), tombstoned rows included. A layout may have none — a build
    * over docs that are all shorter than the shingle width writes no
    * postings, and neither does a compact after every doc was
    * forgotten — and then reads as empty. */
  private def livePostings(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame =
    LsmLayout.readLive(spark, snap, s"$path/postings", "gen=",
      Some(PostingsSchema))

  /** The columns a postings generation read returns: the file columns
    * (`doc_id` declared as the long id the corpora carry), then the
    * partition columns as the directory names infer them. */
  private val PostingsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("ns", LongType),
    StructField("dl", LongType), StructField("shingle", StringType),
    StructField("tf", LongType), StructField("gen", StringType),
    StructField("bucket", IntegerType)))

  /** The stored posting relation (doc_id, ns, dl, shingle, tf, bucket),
    * minus tombstoned documents when a forget-set is pending — every
    * probe routes through here, so a [[tombstone]] call is visible on
    * all serving paths immediately, before [[compact]] rewrites
    * anything. The anti-join side is the forget-set id list (16 bytes a
    * row, broadcast while within the budget); the posting stream itself
    * is untouched. */
  def postings(spark: SparkSession, path: String): DataFrame =
    postingsScoped(spark, path, LsmLayout.snapshot(spark, path))

  private def postingsScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame =
    LsmLayout.antiJoinTombstones(spark, path, snap,
      livePostings(spark, path, snap).drop("gen"),
      "doc_id")

  /** The document-frequency table (bucket, shingle, df) as a VIEW of
    * the live postings: df is the length of the shingle's posting list
    * with tombstoned documents excluded, so a shingle whose documents
    * were all forgotten has left the vocabulary. Nothing is stored for
    * it. */
  def lexicon(spark: SparkSession, path: String): DataFrame =
    postings(spark, path)
      .groupBy(col("bucket"), col("shingle"))
      .agg(count(lit(1)).as("df"))

  /** `post` with a `df` column: the number of its rows sharing the
    * row's shingle. When `post` holds EVERY live posting of each shingle
    * it contains (the serving paths filter by shingle only), that is the
    * shingle's document frequency — a window count, so the postings are
    * read once for both the weights and the scores. */
  private def withDf(post: DataFrame): DataFrame =
    post.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("shingle"))))

  /** The exact-rational idf grid weight round(1e6·N/df) of a row
    * carrying `n_docs` (meta) and `df` ([[withDf]]). */
  private def idfWeight: Column =
    round(lit(1000000.0) *
      (col("n_docs").cast("double") / col("df").cast("double")))
      .cast("long")

  /** The LOGICAL meta row (n_docs, n_tokens, buckets, shingle_n): the
    * counters summed across the live generations, and the layout
    * constants. */
  def metaRow(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val (n, buckets) = layoutConstants(snap)
    metaCounters(spark, path, snap)
      .withColumn("buckets", lit(buckets.toLong))
      .withColumn("shingle_n", lit(n.toLong))
  }

  /** (n_docs, n_tokens) summed across a record's live meta generations. */
  private def metaCounters(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame =
    LsmLayout.readLive(spark, snap, s"$path/meta", "gen=")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  /** The layout constants (shingle_n, buckets) from the commit record. */
  private[operators] def layoutConstants(snap: LayoutSnapshot): (Int, Int) =
    (snap.constant("shingle_n").toInt, snap.constant("buckets").toInt)

  /** Driver-side shingling of a LITERAL query string — the serving
    * path's query side is plan-time constants, not a data scan. Same
    * semantics as the engine expression (single-space split keeping
    * empties, space-joined n-grams, first-occurrence distinct). */
  private[graft] def literalShingles(text: String, n: Int): Seq[String] = {
    val ws = text.split(" ", -1).toSeq
    if (ws.length < n) Seq.empty
    else (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).distinct
  }

  /** The bucket a shingle lands in — same md5-prefix hash60 the build
    * uses, evaluated driver-side on the literal. */
  private[graft] def bucketOf(shingle: String, buckets: Int): Long = {
    val h = graft.functions.SimHashSignature.hash60(
      shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(h, buckets.toLong)
  }

  /** Point-probe serving for an ARBITRARY query text: the query is
    * shingled driver-side (plan-time constants — the s23 probe-set
    * argument: a serving path receives the query as a literal), its
    * bucket set prunes the postings scan AT THE CATALOG, and the
    * shingle IN-list is pushed to the parquet reader, so the probe
    * reads only the row groups that can match — this is the scan shape
    * the fp-bucketed layout exists for. Ranking is the n114 idf-sum
    * (query tf = 1 per distinct shingle); each shingle's df is counted
    * from the same pruned read (every live posting of a query shingle
    * passes the filters). Plan-pinned: PartitionFilters carries the
    * bucket set, probe reads ≤ |query buckets| of the bucket
    * partitions. */
  def pointProbe(
      spark: SparkSession,
      path: String,
      queryText: String,
      k: Int): DataFrame = {
    // ONE record resolution for the whole probe — constants, meta and
    // postings must read the SAME committed state even if a compact
    // commits mid-planning
    val snap = LsmLayout.snapshot(spark, path)
    // shingle width and bucket count are properties of the STORED
    // layout — read them from its record rather than trusting caller
    // parameters that would silently return empty or mis-pruned results
    // on disagreement
    val (n, buckets) = layoutConstants(snap)
    val qsh = literalShingles(queryText, n)
    require(qsh.nonEmpty, s"query shorter than the shingle width: $queryText")
    val qb = qsh.map(bucketOf(_, buckets)).distinct
    withDf(postingsScoped(spark, path, snap)
      .filter(col("bucket").isin(qb: _*))
      .filter(col("shingle").isin(qsh: _*)))
      .crossJoin(broadcast(metaCounters(spark, path, snap)))
      .groupBy(col("doc_id"))
      .agg(sum(idfWeight).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Incremental refresh with a new document batch — the s25 delta
    * discipline applied to the text index, LSM-style: the delta is
    * shingled map-only and APPENDED into the posting bucket partitions
    * as a new generation, and a new meta generation row records the
    * delta counts. Nothing stored is rewritten — refresh does
    * delta-sized work only (the 100 TB incremental contract); reads
    * fold generations (postings by union, meta with one tiny sum) and
    * [[compact]] collapses them when the generation count matters.
    * Merge associativity (append ∪ sum) means any batch decomposition
    * serves identically — oracle-proven (s30 single delta, n124
    * multi-delta: the serving answer from the refreshed index equals
    * the from-scratch rebuild over the union corpus).
    *
    * IDEMPOTENT under at-least-once delivery (the [[LsmLayout]]
    * contract: a duplicated generation would silently inflate
    * df/postings/meta). Gated: n174 (refresh-with-retry ≡ rebuild
    * through the served answer) and StreamingIndexSpec's batch-replay
    * invariance.
    *
    * `compactAfterGenerations` (0 = off) is the auto-compaction policy
    * for continuous ingest: when the committed meta generation count
    * exceeds the threshold after this refresh, [[compact]] folds the
    * LSM back to one generation inside the same maintenance call —
    * bounding the generation/file count a serve-side read folds, with
    * answer invariance by the compact contract (gated by s46). */
  def refresh(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    LsmLayout.ingestBatch(spark, path, batchId, writerEpoch,
      compactAfterGenerations,
      Seq((s"$path/meta", "gen="), (s"$path/postings", "gen=")),
      compact(spark, path, _), counted = countedGeneration(path)) { snap =>
      // the layout owns its shingle width and bucket count — caller-
      // supplied values that disagreed with the build would scatter the
      // delta into wrong directories or mix gram widths, silently
      // corrupting every probe
      val (n, buckets) = layoutConstants(snap)
      // two disjoint relations — the writes overlap (the record commits
      // after both settle)
      Overlap.all(spark)(
        () => writeBucketed(
          postingProjection(delta, idCol, textCol, n, buckets)
            .withColumn("gen", lit(batchId)),
          s"$path/postings"),
        () => LsmLayout.writeGeneration(
          metaGeneration(delta, textCol, batchId, identity),
          s"$path/meta", "gen"))
    }
  }

  /** A (gen, bucket)-partitioned generation write of [[bucketed]] rows. */
  private def writeBucketed(df: DataFrame, dir: String): Unit =
    LsmLayout.writeGeneration(bucketed(df), dir, "gen", "bucket")

  /** Postings as each bucket is stored: written by one task, in shingle
    * order (the row-group pruning layout). The sort key leads with
    * `bucket`: the planned write requires its rows ordered by the
    * partition columns that are not constants — `bucket`, since `gen` is
    * a literal — and replaces any sort that does not start with them by
    * its own (bucket) sort, which drops the shingle order. A key of
    * `shingle` alone, or one leading with the constant `gen`, reaches
    * disk unsorted (StoredFormatSpec checks every bucket file). */
  private def bucketed(df: DataFrame): DataFrame =
    df.repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("shingle"))

  /** One meta generation row: the docs' counts through `signed` (a
    * forget batch's generation is negated). */
  private def metaGeneration(
      docs: DataFrame, textCol: String, gen: String,
      signed: Column => Column): DataFrame =
    docs
      .agg(signed(count(lit(1))).as("n_docs"),
        signed(sum(size(split(col(textCol), " ")).cast("long")))
          .as("n_tokens"))
      .withColumn("gen", lit(gen))

  /** Right-to-be-forgotten deletes, LSM-style: the forget-set becomes a
    * tombstone id list (anti-joined on every postings read — so every
    * df, counted from the live postings, shrinks with it) and a
    * negated meta generation (the forget docs' n_docs and n_tokens, so
    * idf weights and BM25 normalization reflect the shrunk corpus from
    * the next probe on). The forget docs' text is read for their token
    * counts only; it is not shingled. Nothing stored is rewritten — a
    * delete does forget-set-sized work only; [[compact]] later drops
    * the tombstoned postings physically and clears the list.
    *
    * Contract: the forget-set must be (a subset of) documents actually
    * in the index — GDPR deletes name content you hold. Re-ingesting a
    * deleted id requires a [[compact]] first (while its tombstone is
    * pending, the anti-join would hide the re-ingested postings while
    * meta counted them).
    *
    * IDEMPOTENT at two levels ([[LsmLayout.forgetBatch]]): ids already
    * tombstoned by an earlier batch are filtered out, so a logically
    * re-delivered delete never subtracts meta twice, and a retried
    * batch replaces its own `ts-<batchId>` meta generation and
    * `batch=<batchId>` id list. */
  def tombstone(
      forgetDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      batchId: String,
      writerEpoch: Option[Long] = None): Unit = {
    val spark = forgetDocs.sparkSession
    LsmLayout.forgetBatch(spark, path, batchId, writerEpoch, forgetDocs,
      idCol, "doc_id", Seq((s"$path/meta", "gen="))) { (forget, _) =>
      // two disjoint relations from the checkpointed forget-set —
      // overlap the writes (the record commits after both settle)
      Overlap.all(spark)(
        () => LsmLayout.writeTombstones(
          forget.select(col(idCol).as("doc_id")), path, batchId),
        () => LsmLayout.writeGeneration(
          metaGeneration(forget, textCol, s"ts-$batchId", -_),
          s"$path/meta", "gen"))
    }
  }

  /** Fold accumulated generations back to one — the compaction half
    * of the LSM contract (run when the generation/file count starts to
    * matter; probes are correct either way). Meta ALWAYS folds its sums
    * (its generations grow the read-side fold — one row per
    * generation). The postings are already logically final (appends
    * never duplicate a (doc, gram) row; reads resolve explicit
    * live-generation paths), so the ONE corpus-sized rewrite in this op
    * runs only when it has WORK to do: pending tombstones (the GDPR
    * contract — forgotten postings must leave the stored layout
    * physically at compact) or a generation count past the hygiene
    * bound (restore the one-sorted-file-per-bucket layout the row-group
    * pruning story assumes — the s19 discipline). The postings relation
    * tracks its own fold state in the snapshot's second fold track (the
    * ClusterRegistry ledger spelling), so a count-triggered compact is
    * a one-row meta fold, not a full-corpus posting pass — at 100 TB
    * the difference between a metadata-sized policy trip and an
    * O(corpus) one.
    *
    * SNAPSHOT-ATOMIC for concurrent readers: the folds land in a
    * brand-new immutable `base-<id>` generation and ONE manifest flip
    * makes postings and meta visible together — a probe never mixes
    * folded postings (tombstoned docs dropped) with an un-folded meta
    * (which would skew every idf weight); directories only the previous
    * snapshot had stopped referencing are GC'd, so a reader holding
    * either snapshot scans intact files. The applied batches are KEPT:
    * a late retry of a pre-compact batch must still no-op (its data
    * survives inside the folded generation). `writerEpoch` fences
    * the flip and the GC. The folds run WITHOUT eager checkpoints: each
    * reads explicit live-generation paths and writes only the
    * just-cleared gen=<newBase> directories, so read and write sets are
    * disjoint by construction (the ClusterRegistry.compact fold
    * argument — if a read path ever stops being explicit-path-scoped,
    * the checkpoints must come back). */
  def compact(
      spark: SparkSession, path: String,
      writerEpoch: Option[Long] = None): Unit =
    // the relation folds are independent (each reads its own live
    // generations, writes its own new base) — they overlap; the ONE
    // manifest flip still lands only after ALL settle, so readers keep
    // the all-or-nothing visibility contract
    LsmLayout.snapshotCompact(spark, path, writerEpoch,
      rels = Seq((s"$path/meta", "gen=")),
      secondary = Seq((s"$path/postings", "gen="))) { fold =>
      (if (fold.foldSecondary)
        Seq(() => writeBucketed(
          postingsScoped(spark, path, fold.snap)
            .withColumn("gen", lit(fold.newBase)),
          s"$path/postings"))
      else Seq.empty) :+
        (() => LsmLayout.writeGeneration(
          metaCounters(spark, path, fold.snap)
            .withColumn("gen", lit(fold.newBase)),
          s"$path/meta", "gen"))
    }

  /** Reclamation report (the deadChunkStats pattern on the lexical
    * side): live vs dead POSTING rows, dead = rows of pending-
    * tombstoned docs still physically present — the forget mass every
    * probe scans and anti-joins until a compact drops it, weighted by
    * each dead doc's distinct-gram count (big forgotten docs cost
    * probes more). One narrow doc_id scan over the live generations. */
  def deadRowStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    LsmLayout.deadRowStats(spark, path, snap,
      livePostings(spark, path, snap).select(col("doc_id")), "doc_id")
  }

  /** Index-health report: per-bucket posting/vocabulary/document
    * occupancy — what a rebalance or compaction policy reads. One scan
    * of the narrow postings; never text. The bucket function is the
    * PORTABLE md5-prefix hash, so an external system (or the DuckDB
    * oracle) can recompute the same buckets from raw text — s33 gates
    * exactly that. */
  def stats(spark: SparkSession, path: String): DataFrame =
    postings(spark, path)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_postings"),
        count_distinct(col("shingle")).as("n_shingles"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("bucket"))

  /** Exact-Jaccard "more like this" served FROM the index (the n118
    * question): query shingles from a pushed doc_id filter on the
    * postings, broadcast onto the posting stream, one doc-keyed
    * partial agg, TakeOrdered. Text is never read. */
  def moreLikeThis(
      spark: SparkSession, path: String, queryDocId: Long, k: Int): DataFrame = {
    val post = postings(spark, path)
    val q = post.filter(col("doc_id") === queryDocId)
      .select(col("shingle"), col("ns").as("graft__qn"))
    post.filter(col("doc_id") =!= queryDocId)
      .join(broadcast(q), Seq("shingle"))
      .groupBy(col("doc_id"), col("ns"), col("graft__qn"))
      .agg(count(lit(1)).as("graft__i"))
      .select(col("doc_id"),
        (col("graft__i").cast("double") /
          (col("ns") + col("graft__qn") - col("graft__i"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_id"))
      .limit(k)
  }

  /** The candidate stream of the two doc-keyed rankings: the postings
    * of the query doc's shingles (its own postings via a pushed doc_id
    * filter, broadcast into a semi-join), each with its shingle's df —
    * counted before the query doc itself is dropped — its idf weight
    * `graft__w` and the meta counters. One snapshot for every read. */
  private def queryCandidates(
      spark: SparkSession, path: String, queryDocId: Long): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val post = postingsScoped(spark, path, snap)
    val q = post.filter(col("doc_id") === queryDocId).select(col("shingle"))
    withDf(post.join(broadcast(q), Seq("shingle"), "left_semi"))
      .filter(col("doc_id") =!= queryDocId)
      .crossJoin(broadcast(metaCounters(spark, path, snap)))
      .withColumn("graft__w", idfWeight)
  }

  /** BM25-shaped ranked retrieval served FROM the index: the n114
    * exact-rational idf grid (w = round(1e6·N/df) — no log, the n31
    * discipline) with the Robertson tf/length normalization at
    * k1 = 1.2, b = 0.75. With T = corpus token count and N = doc
    * count, the per-term score reduces to ONE rational:
    *
    *   term = w · (k1+1)·tf / (tf + k1·(1−b+b·dl·N/T))
    *        = w · 22·T·tf / (10·T·tf + 3·T + 9·dl·N)
    *
    * evaluated as a fixed-order IEEE double chain (identical in
    * DuckDB), rounded to a BIGINT on w's 1e6 grid, then summed
    * EXACTLY per doc — so the doc score is order-independent and
    * bit-identical cross-engine (the n34/n117 "identical IEEE chain +
    * exact integer sum" discipline; a raw double sum would be
    * partitioning-dependent). Probe shape: [[queryCandidates]] → one
    * doc-keyed BIGINT sum → TakeOrdered. Index-only; tf and dl ride the
    * postings, so no extra join. */
  def bm25TopK(
      spark: SparkSession, path: String, queryDocId: Long, k: Int): DataFrame =
    queryCandidates(spark, path, queryDocId)
      .select(col("doc_id"),
        round(
          (col("graft__w").cast("double") * lit(22.0) *
            col("n_tokens").cast("double") * col("tf").cast("double")) /
            (lit(10L) * col("n_tokens") * col("tf") +
              lit(3L) * col("n_tokens") +
              lit(9L) * col("dl") * col("n_docs")).cast("double"))
          .cast("long").as("graft__s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("graft__s")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Exact-rational idf-weighted retrieval served FROM the index (the
    * n114 question): per-shingle weight round(1e6·N/df) with df counted
    * from the postings and N from meta, summed as BIGINT per doc over
    * the shingles it shares with the query doc, TakeOrdered. */
  def lexicalTopK(
      spark: SparkSession, path: String, queryDocId: Long, k: Int): DataFrame =
    queryCandidates(spark, path, queryDocId)
      .groupBy(col("doc_id"))
      .agg(sum(col("graft__w")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
}
