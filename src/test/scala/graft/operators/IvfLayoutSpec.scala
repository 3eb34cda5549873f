package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The maintained IVF layout: refresh ≡ rebuild, retry idempotency,
  * forget ≡ rebuild, compact, and probe-cell parity with the engine's
  * codegen'd assignment. The s23/s48/s49 oracles gate the served
  * rankings end-to-end; these pin the pieces. */
class IvfLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8
  private def cents: Seq[Seq[Double]] =
    Similarity.hyperplanes(4, dim).map(_.map(_.toDouble))

  private def vecs = (1 to 60).map { i =>
    (i.toLong, (0 until dim).map(j =>
      math.sin(i * 0.37 + j * 1.13).toFloat).toSeq)
  }.toDF("vec_id", "embedding")

  private def ranked(p: String, q: Seq[Double]) =
    IvfLayout.topK(spark, p, q, nprobe = 2, k = 10, excludeId = Some(1L))
      .as[(Long, Double)].collect().toSeq

  private def queryVec: Seq[Double] =
    (0 until dim).map(j => math.cos(j * 0.21))

  test("a wrong-dimension query fails loudly instead of zip-truncating") {
    val p = "target/test_ivflayout/dimcheck"
    IvfLayout.build(vecs, "vec_id", "embedding", p, cents)
    val e = intercept[IllegalArgumentException] {
      IvfLayout.topK(spark, p, queryVec.take(dim - 2), nprobe = 2, k = 5)
    }
    assert(e.getMessage.contains("dimension"))
  }

  test("refresh == rebuild; retry and marker-less replay are no-ops") {
    val inc = "target/test_ivflayout/inc"
    val full = "target/test_ivflayout/full"
    val delta = vecs.filter(col("vec_id") % 4 === 0)
    IvfLayout.build(
      vecs.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding", inc, cents)
    IvfLayout.refresh(delta, "vec_id", "embedding", inc, batchId = "b1")
    IvfLayout.build(vecs, "vec_id", "embedding", full, cents)
    assert(ranked(inc, queryVec) === ranked(full, queryVec))
    val phys = spark.read.parquet(s"$inc/vectors").count()
    IvfLayout.refresh(delta, "vec_id", "embedding", inc, batchId = "b1")
    LsmLayout.dropCommit(spark, inc, "b1")
    IvfLayout.refresh(delta, "vec_id", "embedding", inc, batchId = "b1")
    assert(spark.read.parquet(s"$inc/vectors").count() === phys,
      "a replayed batch must replace its generation, not append")
    assert(ranked(inc, queryVec) === ranked(full, queryVec))
  }

  test("refresh assigns with the STORED centroids, not caller state") {
    // build with the real centroid table, then refresh — the delta's
    // cells must agree with a full rebuild's cells for the same ids
    val inc = "target/test_ivflayout/cells"
    val delta = vecs.filter(col("vec_id") % 4 === 0)
    IvfLayout.build(
      vecs.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding", inc, cents)
    IvfLayout.refresh(delta, "vec_id", "embedding", inc, batchId = "b1")
    val stored = spark.read.parquet(s"$inc/vectors")
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = vecs
      .select(col("vec_id"),
        Similarity.nearestCell(
          Similarity.asDouble(col("embedding")), cents).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(stored === expected,
      "every stored vector must sit in its engine-assigned cell")
  }

  test("tombstone == rebuild on remaining; compact drops rows physically; auto-compaction folds") {
    val del = "target/test_ivflayout/forget"
    val rem = "target/test_ivflayout/remain"
    IvfLayout.build(vecs, "vec_id", "embedding", del, cents)
    IvfLayout.tombstone(
      vecs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      "vec_id", del, batchId = "d1")
    IvfLayout.build(
      vecs.filter(col("vec_id") % 3 =!= 1), "vec_id", "embedding", rem, cents)
    assert(ranked(del, queryVec) === ranked(rem, queryVec))
    // idempotent re-delivery (new batch) and same-batch retry
    IvfLayout.tombstone(
      vecs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      "vec_id", del, batchId = "d2")
    IvfLayout.tombstone(
      vecs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      "vec_id", del, batchId = "d1")
    assert(spark.read.parquet(s"$del/tombstones").count() ===
      vecs.filter(col("vec_id") % 3 === 1).count())
    val physBefore = spark.read.parquet(s"$del/vectors").count()
    IvfLayout.compact(spark, del)
    val snap = LsmLayout.snapshot(spark, del)
    assert(spark.read.parquet(s"$del/vectors")
      .filter(col("gen") === snap.base).count() < physBefore)
    assert(snap.pendingTombstones.isEmpty)
    assert(ranked(del, queryVec) === ranked(rem, queryVec))
    // second cycle: the GC sweeps superseded dirs and the forget-set
    IvfLayout.compact(spark, del)
    assert(!new java.io.File(s"$del/tombstones").exists())
    assert(ranked(del, queryVec) === ranked(rem, queryVec))
    // auto-compaction: threshold 2, third refresh folds
    Seq(101L, 102L, 103L).foreach { id =>
      val d = Seq((id, (0 until dim).map(j =>
        math.sin(id * 0.53 + j).toFloat).toSeq)).toDF("vec_id", "embedding")
      IvfLayout.refresh(d, "vec_id", "embedding", del,
        batchId = s"a$id", compactAfterGenerations = 2)
    }
    assert(LsmLayout.liveGenerationCount(spark, del, s"$del/vectors") === 2)
  }

  test("retrain: new quantizer, same corpus — full-probe serving invariant, survivors exact") {
    val p = "target/test_ivflayout/retrain"
    val delta = vecs.filter(col("vec_id") % 4 === 0)
    IvfLayout.build(
      vecs.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding", p, cents)
    IvfLayout.refresh(delta, "vec_id", "embedding", p, batchId = "b1")
    IvfLayout.tombstone(
      vecs.filter(col("vec_id") % 3 === 1).select("vec_id"),
      "vec_id", p, batchId = "d1")
    def full(q: Seq[Double]) = IvfLayout
      .topK(spark, p, q, nprobe = cents.size, k = 10, excludeId = Some(1L))
      .as[(Long, Double)].collect().toSeq
    val want = full(queryVec)
    IvfLayout.retrain(spark, p, rounds = 3)
    // the full-probe ranking is quantizer-independent: exactly the
    // surviving vectors, nothing lost/duplicated/resurrected
    assert(full(queryVec) === want)
    // the quantizer genuinely changed and every stored vector sits in
    // its NEW nearest cell (the (vectors, centroids) pairing)
    val snap = LsmLayout.snapshot(spark, p)
    val newCents = spark.read
      .parquet(s"$p/centroids/gen=${snap.base}")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](1).toSeq).toSeq
    assert(newCents !== cents, "Lloyd rounds over real vectors must move " +
      "the hyperplane seed centroids")
    val stored = spark.read.parquet(s"$p/vectors")
      .filter(col("gen") === snap.base)
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = vecs.filter(col("vec_id") % 3 =!= 1)
      .select(col("vec_id"),
        Similarity.nearestCell(
          Similarity.asDouble(col("embedding")), newCents).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(stored === expected)
    // retrain subsumed the compact: one live generation, forget-set
    // retired, tombstoned vectors physically gone
    assert(LsmLayout.liveGenerationCount(spark, p, s"$p/vectors") === 1)
    assert(snap.pendingTombstones.isEmpty)
    assert(!stored.keySet.exists(_ % 3 == 1))
    // post-retrain refreshes assign with the NEW stored quantizer and
    // partial probes stay correct: the served top-k over the probed
    // cells equals brute force restricted to those cells
    val d2 = Seq((201L, (0 until dim).map(j =>
      math.sin(201 * 0.53 + j).toFloat).toSeq)).toDF("vec_id", "embedding")
    IvfLayout.refresh(d2, "vec_id", "embedding", p, batchId = "b2")
    val probes = IvfLayout
      .probeCellsOf(spark, p, queryVec, 2, LsmLayout.snapshot(spark, p))
      .map(_.toLong).toSet
    val served = IvfLayout
      .topK(spark, p, queryVec, nprobe = 2, k = 10, excludeId = Some(1L))
      .as[(Long, Double)].collect().toSeq
    val brute = IvfLayout.vectors(spark, p)
      .filter(col("cell").isin(probes.toSeq: _*))
      .filter(col("vec_id") =!= 1L)
      .select(col("vec_id"),
        round(Similarity.cosine(
          Similarity.asDouble(col("embedding")),
          array(queryVec.map(lit): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .as[(Long, Double)].collect().toSeq
    assert(served === brute)
    // a second retrain supersedes the first and GC keeps exactly the
    // two most recent centroid tables (one-cycle-deferred, like data)
    IvfLayout.retrain(spark, p, rounds = 2)
    val gens = new java.io.File(s"$p/centroids").list().toSeq
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen="))
    assert(gens.toSet.size <= 2 &&
      gens.contains(LsmLayout.snapshot(spark, p).base))
  }

  test("retrain can RE-SIZE the quantizer; serving stays exact either way") {
    val p = "target/test_ivflayout/resize"
    IvfLayout.build(vecs, "vec_id", "embedding", p, cents)
    def full(q: Seq[Double], np: Int) = IvfLayout
      .topK(spark, p, q, nprobe = np, k = 10, excludeId = Some(1L))
      .as[(Long, Double)].collect().toSeq
    val want = full(queryVec, cents.size)
    // grow nlist 16 -> 24: the padded seed survives Lloyd (empty cells
    // keep their centroid), serving is invariant under full probe
    IvfLayout.retrain(spark, p, rounds = 2, nlist = Some(24))
    val snapG = LsmLayout.snapshot(spark, p)
    val nG = spark.read.parquet(s"$p/centroids/gen=${snapG.base}").count()
    assert(nG === 24L, s"grown quantizer must store 24 centroids: $nG")
    assert(full(queryVec, 24) === want)
    // shrink back to 8: fewer, coarser cells — same full-probe answer
    IvfLayout.retrain(spark, p, rounds = 2, nlist = Some(8))
    val snapS = LsmLayout.snapshot(spark, p)
    assert(spark.read.parquet(s"$p/centroids/gen=${snapS.base}")
      .count() === 8L)
    assert(full(queryVec, 8) === want)
    // every stored vector sits in its nearest NEW cell
    val newCents = spark.read.parquet(s"$p/centroids/gen=${snapS.base}")
      .orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](1).toSeq).toSeq
    val stored = spark.read.parquet(s"$p/vectors")
      .filter(col("gen") === snapS.base)
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expected = vecs.select(col("vec_id"),
      Similarity.nearestCell(
        Similarity.asDouble(col("embedding")), newCents).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(stored === expected)
  }

  test("cellStats keeps dead cells visible — the retrain/re-size signal") {
    val p = "target/test_ivflayout/cellstats"
    IvfLayout.build(vecs, "vec_id", "embedding", p, cents)
    val byCell = spark.read.parquet(s"$p/vectors")
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect()
    // empty the least-populated cell entirely via a forget
    val (deadCell, members) = byCell.groupBy(_._2)
      .view.mapValues(_.map(_._1).toSeq).toSeq.minBy(_._2.size)
    assert(members.nonEmpty && members.size < byCell.length)
    IvfLayout.tombstone(members.toDF("vec_id"), "vec_id", p,
      batchId = "d1")
    val stats = IvfLayout.cellStats(spark, p)
      .as[(Long, Long, Double)].collect().toSeq
    assert(stats.map(_._1) === cents.indices.map(_.toLong),
      "one row per centroid cell, ordered, dead cells included")
    assert(stats.find(_._1 == deadCell).get._2 === 0L,
      "the emptied cell must report n_vecs = 0, not vanish")
    assert(stats.map(_._2).sum === (byCell.length - members.size).toLong)
    assert(math.abs(stats.map(_._3).sum - 1.0) < 1e-9,
      "shares are exact count ratios and must sum to 1")
  }

  test("retrain keeps the probe's catalog pruning (plan pin)") {
    // the 0.9s-class serve latency rides the (gen, cell) partitioning;
    // retrain REWRITES the whole layout, so a partitioning regression
    // there would only surface at scale as a full vector scan
    val p = "target/test_ivflayout/retrainplan"
    IvfLayout.build(vecs, "vec_id", "embedding", p, cents)
    IvfLayout.refresh(vecs.filter(col("vec_id") <= 5)
      .withColumn("vec_id", col("vec_id") + 100L),
      "vec_id", "embedding", p, batchId = "b1")
    def allScans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      pl.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(qs.plan)
      }.flatten
    def probedPartitions(): (Long, Int) = {
      val df = IvfLayout.topK(spark, p, queryVec, nprobe = 2, k = 5)
      df.collect()
      val scans = allScans(df.queryExecution.executedPlan)
        .filter(_.metadata("Location").contains("retrainplan/vectors"))
      assert(scans.nonEmpty, "topK must scan the stored vectors")
      scans.foreach(sc =>
        assert(sc.metadata("PartitionFilters").contains("cell"),
          s"cell pruning lost: ${sc.metadata("PartitionFilters")}"))
      (scans.map(_.selectedPartitions.partitionCount.toLong).sum,
        LsmLayout.liveGenerationCount(spark, p, s"$p/vectors"))
    }
    val (preParts, preGens) = probedPartitions()
    assert(preGens === 2)
    assert(preParts <= 2L * preGens,
      s"pre-retrain probe read $preParts partitions > nprobe x gens")
    IvfLayout.retrain(spark, p, rounds = 2)
    val (postParts, postGens) = probedPartitions()
    assert(postGens === 1)
    assert(postParts <= 2L,
      s"post-retrain probe read $postParts partitions > nprobe")
  }

  test("a stale writer epoch cannot retrain over the new owner") {
    val p = "target/test_ivflayout/retrain_fence"
    IvfLayout.build(vecs, "vec_id", "embedding", p, cents)
    val stale = LsmLayout.acquireWriterEpoch(spark, p)
    LsmLayout.acquireWriterEpoch(spark, p)
    intercept[IllegalStateException] {
      IvfLayout.retrain(spark, p, rounds = 1, writerEpoch = Some(stale))
    }
    assert(LsmLayout.snapshot(spark, p).id === 0L,
      "a fenced retrain must not commit a record")
  }
}
