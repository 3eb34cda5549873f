package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored IVF index — the s23 cell-partitioned vector layout promoted
  * to a MAINTAINED operator, completing the LSM lifecycle across the
  * stored-layout family (lexical s28+, band s37+, kmv s41+, chunk
  * store s42+, and now the ANN side): a deployed vector index is not
  * rebuilt per ingest batch; it is refreshed, forgotten-from, and
  * compacted, under the same at-least-once contract as everything
  * else ([[LsmLayout]]).
  *
  * Layout under `path`:
  *  - `vectors/` (vec_id, embedding, …) partitioned by (`gen`, `cell`)
  *    — cell is the coarse-quantizer assignment, so a probe reads
  *    nprobe/nlist of the data via CATALOG partition pruning (the s13
  *    mechanism; plan-pinned), and `gen` is the batch-keyed LSM
  *    generation (a probe's cell filter prunes across ALL generations
  *    — gens multiply directories, not rows read);
  *  - `centroids/` (cell, centroid: array<double>) — the index is
  *    self-describing (the LexicalIndex lesson): refreshes MUST
  *    assign with the build's centroids, or probe pruning would
  *    silently miss delta vectors;
  *  - `tombstones/` (vec_id) partitioned by delete batch — the s40
  *    forget discipline; vectors are per-id facts, so the delete is
  *    one id-list write and an anti-join on every read.
  *
  * Maintenance is idempotent per the shared contract (batch-keyed
  * dynamic overwrite + applied markers; gated by s48's fault-injected
  * oracle), and `compactAfterGenerations` bounds directory growth
  * (the s46 policy).
  *
  * 100 TB shape: build is one corpus pass (map-only codegen'd argmin
  * + one partitioned write); refresh is delta-sized (the delta is
  * assigned and written into its own generation — nothing stored is
  * read except the 16-row centroid table); a probe reads ≤ nprobe
  * cell directories of narrow vector rows and ends in TakeOrdered.
  * Centroids are plan-time metadata (nlist rows), collected driver-
  * side like every other layout's meta row — not a data-path collect.
  */
object IvfLayout {

  private val BaseGen = "base"

  def build(
      vecs: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Seq[Seq[Double]]): Unit = {
    val spark = vecs.sparkSession
    LsmLayout.startIndexLife(spark, path)
    LsmLayout.deleteDir(spark, s"$path/centroids")
    // the cell-assigned vectors and the literal centroid table are
    // disjoint relations — write them concurrently (the build
    // discipline shared across the stored layouts; a crashed partial
    // build was never servable in any ordering)
    Overlap.all(spark)(
      () => vecs
        .withColumn("cell",
          Similarity.nearestCell(Similarity.asDouble(col(vecCol)), centroids))
        .withColumn("gen", lit(BaseGen))
        .write.mode("overwrite").partitionBy("gen", "cell")
        .parquet(s"$path/vectors"),
      () => writeCentroids(spark, path, BaseGen, centroids))
  }

  /** Centroid tables are VERSIONED BY THE BASE GENERATION NAME (one
    * `centroids/gen=<base>` table per snapshot life): cell numbers
    * only mean anything relative to the quantizer that assigned them,
    * so a probe must compute its cell set from the centroids that
    * match the vector generations its snapshot reads — an in-place
    * centroid swap under a live reader would prune with the NEW
    * quantizer over OLD assignments and silently miss vectors. Every
    * snapshot flip that changes the quantizer ([[retrain]]) writes a
    * new table; flips that keep it ([[compact]]) carry it forward
    * under the new base name; superseded tables are GC'd one cycle
    * later like every other generation.
    *
    * MIGRATION NOTE: layouts written before the gen-versioned table
    * (flat `centroids/`) must be re-[[build]]t — there is no lazy
    * fallback by design (a flat table cannot say which base it pairs
    * with, which is the exact ambiguity the versioning removes). All
    * harness artifacts are regenerated per run. */
  private def centroidDir(path: String, base: String): String =
    s"$path/centroids/gen=$base"

  private def writeCentroids(
      spark: SparkSession, path: String, base: String,
      centroids: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(centroidDir(path, base))
  }

  /** The stored centroid table OF ONE SNAPSHOT, driver-side — nlist
    * rows of plan-time metadata (the metaRow discipline). */
  private def centroidsOf(
      spark: SparkSession, path: String,
      snap: LayoutSnapshot): Seq[Seq[Double]] =
    spark.read.parquet(centroidDir(path, snap.base))
      .orderBy(col("cell"))
      .collect()
      .map(r => r.getSeq[Double](1).toSeq)
      .toSeq

  /** Delta ingest: assign the delta with the STORED centroids and
    * write it as a batch-keyed generation — delta-sized work, nothing
    * stored rewritten. Idempotent per the [[LsmLayout]] contract;
    * `compactAfterGenerations` (0 = off) folds the layout when the
    * generation count exceeds the threshold. */
  def refresh(
      delta: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: String,
      compactAfterGenerations: Int = 0,
      writerEpoch: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    LsmLayout.ingestBatch(spark, path, batchId, writerEpoch,
      compactAfterGenerations, s"$path/vectors", "gen=",
      compact(spark, path, _)) {
      val cents = centroidsOf(spark, path, LsmLayout.snapshot(spark, path))
      LsmLayout.writeGeneration(
        delta
          .withColumn("cell",
            Similarity.nearestCell(Similarity.asDouble(col(vecCol)), cents))
          .withColumn("gen", lit(batchId)),
        s"$path/vectors", "gen", "cell")
    }
  }

  /** Right-to-be-forgotten deletes: an id list anti-joined on every
    * read — forget-set-sized work; [[compact]] drops the rows
    * physically. Idempotent at both levels (the band-index shape:
    * per-id facts, no stored aggregate to correct). */
  def tombstone(
      forgetIds: DataFrame, idCol: String,
      path: String, batchId: String,
      writerEpoch: Option[Long] = None): Unit =
    LsmLayout.tombstoneIds(forgetIds, idCol, "vec_id", path, batchId,
      writerEpoch)

  /** Fold generations to one and drop tombstoned vectors physically;
    * markers kept, forget-set retired (the shared compact contract).
    * SNAPSHOT-ATOMIC for concurrent readers: new immutable base
    * generation + one manifest flip + one-cycle-deferred GC;
    * `writerEpoch` fences the flip and the GC. */
  def compact(
      spark: SparkSession, path: String,
      writerEpoch: Option[Long] = None): Unit =
    swapBase(spark, path, writerEpoch) { fold =>
      writeVectors(path, fold, fold.checkpointed(
        vectorsScoped(spark, path, fold.snap)))
      // the quantizer is unchanged — carry its table forward under the
      // new base name (nlist rows, metadata-sized) so readers of either
      // snapshot resolve a matching (vectors, centroids) pair
      writeCentroids(spark, path, fold.newBase,
        centroidsOf(spark, path, fold.snap))
    }

  /** Re-centroid the layout — the quantizer maintenance op the rest of
    * the lifecycle ([[refresh]]/[[tombstone]]/[[compact]]) deliberately
    * never performs: they assign with the STORED centroids, so as the
    * corpus grows and forgets, the cell distribution drifts from the
    * quantizer that was trained at build time — hot cells grow without
    * bound and probes over-read. `retrain` polishes the quantizer with
    * `rounds` exact-integer Lloyd updates ([[KMeans]] — deterministic,
    * bit-reproducible) over the LIVE vectors, seeded from the current
    * centroids (optionally RE-SIZED via `nlist` — see the seed note in
    * the body; the seed derives from stored state + stored ids, so a
    * retry retrains identically), then reassigns every surviving
    * vector and swaps in the result SNAPSHOT-ATOMICALLY: new vectors
    * base + new centroid table under one base name, one manifest flip
    * — a concurrent reader sees the old (vectors, centroids) pair or
    * the new one, never a quantizer/assignment mismatch. Subsumes a
    * [[compact]] (tombstones applied physically, generations folded).
    * Deliberately the one corpus-sized maintenance pass, per the
    * layout contract: assignment is a map-only argmin against a
    * broadcast centroid row; each Lloyd round exchanges ≤ nlist×dim
    * BIGINT partials per task, never vectors. */
  def retrain(
      spark: SparkSession, path: String,
      rounds: Int = 5,
      nlist: Option[Int] = None,
      writerEpoch: Option[Long] = None): Unit =
    swapBase(spark, path, writerEpoch) { fold =>
      val live = fold.checkpointed(vectorsScoped(spark, path, fold.snap))
      // seed = stored centroids on KMeans' 1e-6 grid; the trained row is
      // nlist×dim longs — ONE driver-side head() of plan-time metadata.
      // `nlist` RE-SIZES the quantizer (the FAISS guidance is nlist ∝ √N
      // for probes, ∝ N for constant cell occupancy — a build-time nlist
      // is mis-sized once the corpus has grown 100×): growing pads the
      // seed with the lowest-vec_id live vectors not already nearest an
      // existing seed (deterministic — stored state + stored ids, so a
      // retry re-derives the same seed); shrinking keeps the first
      // `nlist` stored centroids. Lloyd then polishes the combined seed.
      val stored = centroidsOf(spark, path, fold.snap)
        .map(_.map(x => math.floor(x * 1e6).toLong))
      val k = nlist.getOrElse(stored.size)
      require(k > 0, s"nlist must be positive: $k")
      val init =
        if (k <= stored.size) stored.take(k)
        else {
          val extra = live
            .orderBy(col("vec_id"))
            .limit(k) // ≤ k rows collected — seed-sized, not corpus-sized
            .select(col("vec_id"),
              Similarity.asDouble(col("embedding")).as("graft__v"))
            .collect()
            .map(r => r.getSeq[Double](1).map(x =>
              math.floor(x * 1e6).toLong).toSeq)
            // dedup the extra seeds against the stored centroids AND each
            // other on the quantized grid: duplicate embeddings among the
            // lowest-vec_id rows would otherwise yield identical seeds —
            // permanently dead cells, an effective nlist below the ask
            .distinct
            .filterNot(stored.contains)
            .take(k - stored.size)
          // a tiny corpus may not fill the requested nlist — train with
          // what exists (empty cells would keep dead seed centroids)
          stored ++ extra
        }
      val trained = KMeans
        .trainedCentroidRow(live, "vec_id", "embedding", init, rounds)
        .head().getSeq[scala.collection.Seq[Long]](0)
        .map(_.map(_.toDouble / 1e6).toSeq).toSeq
      writeVectors(path, fold, live.withColumn("cell",
        Similarity.nearestCell(Similarity.asDouble(col("embedding")), trained)))
      writeCentroids(spark, path, fold.newBase, trained)
    }

  /** The shared snapshot flip of [[compact]] and [[retrain]]: `swap`
    * writes the new (vectors, centroids) pair under the fold's base
    * name, then one manifest flip folds every live generation into it
    * and retires the applied tombstone batches; superseded vector
    * generations and centroid tables are GC'd one cycle later. */
  private def swapBase(
      spark: SparkSession, path: String, writerEpoch: Option[Long])(
      swap: LsmLayout.Fold => Unit): Unit =
    LsmLayout.snapshotCompact(spark, path, writerEpoch,
      Seq((s"$path/vectors", "gen="), (s"$path/centroids", "gen="))) { fold =>
      Seq(() => swap(fold))
    }

  private def writeVectors(
      path: String, fold: LsmLayout.Fold, rows: DataFrame): Unit =
    LsmLayout.writeGeneration(rows.withColumn("gen", lit(fold.newBase)),
      s"$path/vectors", "gen", "cell")

  /** The stored vector relation (vec_id, embedding, …, cell),
    * tombstones applied. Reading through here does NOT prune cells —
    * serving paths use [[topK]], whose literal probe filter is what
    * reaches the catalog. */
  def vectors(spark: SparkSession, path: String): DataFrame =
    vectorsScoped(spark, path, LsmLayout.snapshot(spark, path))

  private def vectorsScoped(
      spark: SparkSession, path: String, snap: LayoutSnapshot): DataFrame = {
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/vectors", "gen=", snap)
    LsmLayout.antiJoinTombstones(spark, path, snap,
      LsmLayout.readGenerations(spark, s"$path/vectors", "gen=", live)
        .drop("gen"),
      "vec_id")
  }

  /** The retrain-decision report (the `deadChunkStats` pattern on the
    * ANN side): per-cell occupancy of the LIVE index — tombstones
    * applied, every generation folded — with each cell's exact share
    * of the corpus. What an operator reads to decide WHEN the
    * corpus-sized [[retrain]] pays: hot cells mean probes over-read
    * (a probed cell's rows are scanned in full), a long tail of
    * near-empty cells means nlist is oversized for the surviving
    * corpus. Cells that lost every vector still report (n_vecs = 0) —
    * dead cells are exactly the re-size signal. One narrow scan +
    * one nlist-sized grouped count; the share divides two exact
    * counts (bit-identical cross-engine). */
  def cellStats(spark: SparkSession, path: String): DataFrame = {
    val snap = LsmLayout.snapshot(spark, path)
    val counts = vectorsScoped(spark, path, snap)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    import spark.implicits._
    val all = centroidsOf(spark, path, snap).indices
      .map(_.toLong).toDF("cell")
    val joined = all.join(counts, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
    val tot = joined.agg(sum(col("n_vecs")).as("graft__t"))
    joined.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("graft__t").cast("double"))
          .as("share"))
      .orderBy(col("cell"))
  }

  /** The `nprobe` nearest cells to a literal query vector, from the
    * STORED centroids — same argmin arithmetic, same lower-index
    * tie-break, same left-to-right double fold as
    * [[Similarity.nearestCell]] (bit-identical cells; law-tested). */
  private[graft] def probeCellsOf(
      spark: SparkSession, path: String,
      query: Seq[Double], nprobe: Int,
      snap: LayoutSnapshot): Seq[Int] = {
    val cents = centroidsOf(spark, path, snap)
    // a wrong-dimension query would silently zip-truncate into a
    // plausible-looking but wrong cell set (and a wrong cosine in
    // topK's literal) — fail loudly instead
    cents.headOption.foreach(c0 => require(query.length == c0.length,
      s"query dimension ${query.length} != stored centroid dimension " +
        s"${c0.length} at $path"))
    cents.zipWithIndex.map { case (c, i) =>
      (c.zip(query).map { case (x, y) => (x - y) * (x - y) }.sum, i)
    }.sorted.take(nprobe).map(_._2)
  }

  /** Cosine top-k served from the stored layout: the probe-cell set is
    * driver-side arithmetic on the nlist-row centroid table (the query
    * vector is the ANN API's INPUT — a literal, not a data path), the
    * cell IN-list prunes the vector scan AT THE CATALOG (plan-pinned:
    * PartitionFilters carries it, ≤ nprobe cells read per generation),
    * and ranking ends in TakeOrdered. `excludeId` drops a query-by-id
    * self match. */
  def topK(
      spark: SparkSession, path: String,
      query: Seq[Double], nprobe: Int, k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    // ONE snapshot resolution serves both the centroid lookup and the
    // vector scan — a retrain flipping between the two would otherwise
    // prune new-quantizer cells over old-quantizer assignments
    val snap = LsmLayout.snapshot(spark, path)
    val probes = probeCellsOf(spark, path, query, nprobe, snap)
    val live = LsmLayout.liveGenerationNames(
      spark, s"$path/vectors", "gen=", snap)
    val base = LsmLayout
      .readGenerations(spark, s"$path/vectors", "gen=", live)
      .filter(col("cell").isin(probes.map(_.toLong): _*))
    val scoped = LsmLayout.antiJoinTombstones(spark, path, snap, base, "vec_id")
    excludeId.fold(scoped)(id => scoped.filter(col("vec_id") =!= id))
      .select(col("vec_id"),
        round(Similarity.cosine(
          Similarity.asDouble(col("embedding")),
          array(query.map(lit): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
