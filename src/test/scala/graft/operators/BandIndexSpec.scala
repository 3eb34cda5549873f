package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class BandIndexSpec extends SparkTestBase {

  private def words(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  // corpus: A and B unrelated 20-word docs, C unrelated
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, words(20, "a")),
      (2L, words(20, "b")),
      (3L, words(20, "c"))
    ).toDF("doc_id", "text")
  }

  test("probe finds exact and near duplicates of indexed docs, nothing else") {
    import spark.implicits._
    val path = "target/test_bandindex/basic"
    BandIndex.build(corpus, "doc_id", "text", path)

    val nearB = words(19, "b") + " zzz" // last token changed: J = 17/19
    val delta = Seq(
      (101L, words(20, "a")), // exact dup of doc 1
      (102L, nearB),          // near dup of doc 2
      (103L, words(20, "x"))  // novel
    ).toDF("doc_id", "text")

    val out = BandIndex.probe(corpus, delta, "doc_id", "text", path, 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array((101L, 1L, 1.0), (102L, 2L, 17.0 / 19.0)))
  }

  test("build materializes one sketch for both writes and leaves it to the runner sweep") {
    val path = "target/test_bandindex/shared_sketch"
    val sketch = BandIndex.sketchRelation(corpus, "doc_id", "text",
      BandIndex.DefaultShingleWidth, BandIndex.DefaultNumHashes,
      BandIndex.DefaultBands)
    BandIndex.build(corpus, "doc_id", "text", path)
    // the cache is keyed by plan: an entry the build dropped would also
    // be gone for a caller that cached an equal sketch (the registry)
    assert(sketch.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    sketch.unpersist()
  }

  test("append makes a delta visible to the NEXT probe") {
    import spark.implicits._
    val path = "target/test_bandindex/append"
    BandIndex.build(corpus, "doc_id", "text", path)

    val delta1 = Seq((201L, words(20, "d"))).toDF("doc_id", "text")
    assert(BandIndex.probe(corpus, delta1, "doc_id", "text", path, 0.8)
      .isEmpty)
    BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")

    // delta2 duplicates a delta1 doc — only findable through the append;
    // rehydration corpus must now include delta1 (the caller's ledger)
    val delta2 = Seq((301L, words(20, "d"))).toDF("doc_id", "text")
    val out = BandIndex.probe(
      corpus.unionByName(delta1), delta2, "doc_id", "text", path, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out === Array((301L, 201L, 1.0)))
  }

  test("append is idempotent under at-least-once retry; a duplicate generation would duplicate probe rows") {
    import spark.implicits._
    val path = "target/test_bandindex/retry"
    BandIndex.build(corpus, "doc_id", "text", path)
    val delta1 = Seq((201L, words(20, "d"))).toDF("doc_id", "text")
    BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")
    val physPost = spark.read.parquet(s"$path/postings").count()
    val physSigs = spark.read.parquet(s"$path/sigs").count()
    // clean retry: marker short-circuits
    BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")
    assert(spark.read.parquet(s"$path/postings").count() === physPost)
    assert(spark.read.parquet(s"$path/sigs").count() === physSigs)
    // partial-failure retry: marker lost, generation must OVERWRITE
    new java.io.File(s"$path/_applied/b1").delete()
    BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")
    assert(spark.read.parquet(s"$path/postings").count() === physPost,
      "a replayed batch must replace its generation, not append")
    assert(spark.read.parquet(s"$path/sigs").count() === physSigs)
    // and the probe answer is the single-application answer (a
    // duplicated sig generation would emit duplicated result rows)
    val delta2 = Seq((301L, words(20, "d"))).toDF("doc_id", "text")
    val out = BandIndex.probe(
      corpus.unionByName(delta1), delta2, "doc_id", "text", path, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out === Array((301L, 201L, 1.0)))
  }

  test("tombstone hides docs from every probe path; compact drops them physically; delete == rebuild") {
    import spark.implicits._
    val del = "target/test_bandindex/forget"
    val rem = "target/test_bandindex/remain"
    val delta = Seq(
      (101L, words(20, "a")), // dup of doc 1 (to be forgotten)
      (102L, words(20, "b"))  // dup of doc 2 (stays)
    ).toDF("doc_id", "text")
    BandIndex.build(corpus, "doc_id", "text", del)
    BandIndex.tombstone(
      corpus.filter(col("doc_id") === 1).select("doc_id"), "doc_id", del,
      batchId = "d1")
    BandIndex.build(
      corpus.filter(col("doc_id") =!= 1), "doc_id", "text", rem)
    def probeAll(p: String) = BandIndex.probe(
      corpus.filter(col("doc_id") =!= 1), delta, "doc_id", "text", p, 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(probeAll(del) === Seq((102L, 2L, 1.0)),
      "a tombstoned doc must stop matching immediately")
    assert(probeAll(del) === probeAll(rem), "delete must equal rebuild")
    // re-delivered delete (new batch id) and same-batch retry: no-ops
    BandIndex.tombstone(
      corpus.filter(col("doc_id") === 1).select("doc_id"), "doc_id", del,
      batchId = "d2")
    BandIndex.tombstone(
      corpus.filter(col("doc_id") === 1).select("doc_id"), "doc_id", del,
      batchId = "d1")
    assert(spark.read.parquet(s"$del/tombstones").count() === 1L)
    // compact: the new base generation folds the delete physically and
    // serving is identical; the superseded base and the applied
    // tombstone batch survive ONE more cycle for concurrent readers,
    // then the next compact's GC sweeps them
    BandIndex.compact(spark, del)
    val snap = LsmLayout.snapshot(spark, del)
    assert(spark.read.parquet(s"$del/postings")
      .filter(col("gen") === snap.base && col("doc_id") === 1).count() === 0L,
      "compact must drop tombstoned postings from the new base")
    assert(LsmLayout.liveTombstoneBatches(spark, del, snap).isEmpty)
    assert(probeAll(del) === probeAll(rem))
    BandIndex.compact(spark, del)
    assert(spark.read.parquet(s"$del/postings")
      .filter(col("doc_id") === 1).count() === 0L,
      "the second cycle's GC must sweep the superseded base")
    assert(!new java.io.File(s"$del/tombstones").exists())
    assert(probeAll(del) === probeAll(rem))
  }

  test("append auto-compaction folds generations and preserves probe answers") {
    import spark.implicits._
    val path = "target/test_bandindex/autocompact"
    BandIndex.build(corpus, "doc_id", "text", path)
    val deltas = Seq(
      (201L, words(20, "d")), (202L, words(20, "e")), (203L, words(20, "f")))
    deltas.zipWithIndex.foreach { case ((id, text), i) =>
      BandIndex.append(Seq((id, text)).toDF("doc_id", "text"),
        "doc_id", "text", path, batchId = s"a$i",
        compactAfterGenerations = 2)
    }
    // a1 made 3 gens > 2 → compacted to 1; a2 appended → 2 LIVE
    assert(LsmLayout.liveGenerationCount(spark, path, s"$path/sigs") === 2)
    val indexed = corpus.unionByName(deltas.toDF("doc_id", "text"))
    val probe = Seq((301L, words(20, "e"))).toDF("doc_id", "text")
    val out = BandIndex.probe(indexed, probe, "doc_id", "text", path, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out === Array((301L, 202L, 1.0)),
      "a doc folded by the mid-loop compact must still be probeable")
  }

  test("index is self-describing: probe replays non-default build params from meta") {
    import spark.implicits._
    val path = "target/test_bandindex/meta"
    // bigram shingles, 32 hashes in 8 bands — probe passes NO params
    BandIndex.build(corpus, "doc_id", "text", path,
      shingleWidth = 2, numHashes = 32, bands = 8)
    val delta = Seq((401L, words(20, "a"))).toDF("doc_id", "text")
    val out = BandIndex.probe(corpus, delta, "doc_id", "text", path, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out === Array((401L, 1L, 1.0)))
  }

  test("literalSignature/literalBands match the engine expressions bit-for-bit") {
    import spark.implicits._
    val texts = Seq(words(20, "a"), words(7, "x"), "one two three four",
      "héllo wörld ✓ tail five six")
    val engine = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "t")
      .select(col("i"),
        TextOps.shinglesFromTokens(TextOps.tokens(col("t")), 3).as("sh"))
      .select(col("i"), expr("graft_minhash_sig(sh, 64)").as("sig"))
      .withColumn("bh", expr("graft_minhash_band_mix(sig, 16)"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2))))
      .toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val qsh = LexicalIndex.literalShingles(t, 3)
      val sig = BandIndex.literalSignature(qsh, 64)
      val bh = BandIndex.literalBands(sig, 16)
      assert(sig.toSeq === engine(i)._1, s"sig diverged for: '$t'")
      assert(bh.toSeq === engine(i)._2, s"bands diverged for: '$t'")
    }
  }

  test("pointProbe finds the near-dup of a literal query; pushes band_val equalities; respects tombstones") {
    import spark.implicits._
    val path = "target/test_bandindex/pointprobe"
    BandIndex.build(corpus, "doc_id", "text", path)
    // query = doc 2's text + one token → J = 17/19 against doc 2
    val qt = words(20, "b") + " zzz"
    val df = BandIndex.pointProbe(corpus, "doc_id", "text", path, qt, 0.8)
    val out = df.as[(Long, Double)].collect()
    // query has 19 distinct shingles (18 pure-b + 1 ending in zzz),
    // doc 2 has 18, all shared → J = 18 / (19 + 18 − 18) = 18/19
    assert(out.toSeq === Seq((2L, 18.0 / 19.0)),
      "the probe must find doc 2 at J = 18/19")
    // plan: the (band, band_val) equalities reach the parquet reader
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(qs.plan)
      }.flatten
    val postScans = allScans(df.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("pointprobe/postings"))
    assert(postScans.nonEmpty, "probe must scan the stored postings")
    postScans.foreach { sc =>
      assert(sc.metadata("PushedFilters").contains("EqualTo(band_val"),
        s"band_val equalities not pushed: ${sc.metadata("PushedFilters")}")
      assert(!sc.metadata("ReadSchema").contains("text"))
    }
    // a tombstoned doc stops matching immediately
    BandIndex.tombstone(
      corpus.filter(col("doc_id") === 2).select("doc_id"), "doc_id", path,
      batchId = "d1")
    assert(BandIndex.pointProbe(corpus, "doc_id", "text", path, qt, 0.8)
      .isEmpty)
  }

  test("pointProbe partition pruning holds before AND after a compact") {
    import spark.implicits._
    val path = "target/test_bandindex/probecompact"
    BandIndex.build(corpus, "doc_id", "text", path)
    BandIndex.append(Seq((601L, words(20, "d"))).toDF("doc_id", "text"),
      "doc_id", "text", path, batchId = "b1")
    val qt = words(20, "b") + " zzz"
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(qs.plan)
      }.flatten
    // the serve latency rides the (gen, band) partitioning: the probe's
    // band predicate must prune AT THE CATALOG to ≤ bands partitions
    // per generation — and compact must not break the property (it
    // rewrites the layout; a partitioning regression there would only
    // surface at scale as a full postings scan)
    def probedPartitions(): (Long, Int) = {
      val df = BandIndex.pointProbe(corpus, "doc_id", "text", path, qt, 0.8)
      df.collect()
      val scans = allScans(df.queryExecution.executedPlan)
        .filter(_.metadata("Location").contains("probecompact/postings"))
      assert(scans.nonEmpty, "probe must scan the stored postings")
      scans.foreach { sc =>
        assert(sc.metadata("PartitionFilters").contains("band"),
          s"band pruning lost: ${sc.metadata("PartitionFilters")}")
      }
      (scans.map(_.selectedPartitions.partitionCount.toLong).sum,
        LsmLayout.liveGenerationCount(spark, path, s"$path/postings"))
    }
    val bands = 16 // the build default
    val (preParts, preGens) = probedPartitions()
    assert(preGens === 2)
    assert(preParts <= bands.toLong * preGens,
      s"pre-compact probe read $preParts partitions > bands x gens")
    BandIndex.compact(spark, path)
    val (postParts, postGens) = probedPartitions()
    assert(postGens === 1)
    assert(postParts <= bands.toLong,
      s"post-compact probe read $postParts partitions > bands")
  }

  test("probe scans of the stored index read only narrow columns, never text") {
    import spark.implicits._
    val path = "target/test_bandindex/plan"
    BandIndex.build(corpus, "doc_id", "text", path)
    val delta = Seq((501L, words(20, "a"))).toDF("doc_id", "text")
    val df = BandIndex.probe(corpus, delta, "doc_id", "text", path, 0.8)
    df.collect()
    // scans hide below AQE query-stage leaves — recurse through them
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(qs.plan)
      }.flatten
    val scans = allScans(df.queryExecution.executedPlan)
    val indexScans = scans.filter(_.metadata("Location").contains("bandindex"))
    assert(indexScans.nonEmpty, "probe must scan the stored index")
    indexScans.foreach { s =>
      assert(!s.metadata("ReadSchema").contains("text"),
        s"index scan must never read text: ${s.metadata("ReadSchema")}")
    }
  }
}
