package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The LsmLayout single-writer fence: a maintenance loop acquires a
  * writer epoch at loop start; a superseded loop's commit must throw
  * (loudly) instead of racing the marker check and the generation
  * numbering (silently). The operational accident this guards: a
  * stuck-then-revived driver running beside its replacement on the
  * same index path. */
class WriterFencingSpec extends SparkTestBase {
  import spark.implicits._

  // epochs deliberately survive rebuilds (the fence contract), so the
  // FIXTURE must start from a clean slate or a previous suite run's
  // epoch files shift every expected number
  org.apache.commons.io.FileUtils.deleteQuietly(
    new java.io.File("target/test_fence"))

  private def docs(ids: Range, tag: String) =
    ids.map(i => (i.toLong, (1 to 12).map(j => s"$tag${i + j}").mkString(" ")))
      .toDF("doc_id", "text")

  test("epochs are monotone per path and independent across paths") {
    val p = "target/test_fence/epochs"
    val e1 = LsmLayout.acquireWriterEpoch(spark, p)
    val e2 = LsmLayout.acquireWriterEpoch(spark, p)
    assert(e2 > e1)
    val other = LsmLayout.acquireWriterEpoch(spark, s"${p}_other")
    assert(other === 1L)
    // current epoch passes; unfenced callers always pass
    LsmLayout.requireCurrentEpoch(spark, p, Some(e2))
    LsmLayout.requireCurrentEpoch(spark, p, None)
    val err = intercept[IllegalStateException] {
      LsmLayout.requireCurrentEpoch(spark, p, Some(e1))
    }
    assert(err.getMessage.contains("stale writer epoch"))
  }

  test("a superseded writer's interleaved lexical maintenance is rejected loudly") {
    val p = "target/test_fence/lex"
    // writer A owns the loop
    val epochA = LsmLayout.acquireWriterEpoch(spark, p)
    LexicalIndex.build(docs(0 until 8, "a"), "doc_id", "text", p, n = 2)
    LexicalIndex.refresh(docs(8 until 12, "a"), "doc_id", "text", p,
      batchId = "b1", writerEpoch = Some(epochA))
    // writer B takes over (the replacement driver) and ingests
    val epochB = LsmLayout.acquireWriterEpoch(spark, p)
    LexicalIndex.refresh(docs(12 until 16, "a"), "doc_id", "text", p,
      batchId = "b2", writerEpoch = Some(epochB))
    // the revived writer A tries to continue its loop — its commit
    // must throw BEFORE marking the batch applied
    val err = intercept[IllegalStateException] {
      LexicalIndex.refresh(docs(16 until 20, "a"), "doc_id", "text", p,
        batchId = "b3", writerEpoch = Some(epochA))
    }
    assert(err.getMessage.contains("stale writer epoch"))
    assert(!LsmLayout.snapshot(spark, p).isApplied("b3"),
      "a fenced-out commit must not apply the batch")
    // B's re-delivery of the same micro-batch id replaces A's orphaned
    // partial generation — the layout converges under the new owner
    LexicalIndex.refresh(docs(16 until 20, "a"), "doc_id", "text", p,
      batchId = "b3", writerEpoch = Some(epochB))
    assert(LsmLayout.snapshot(spark, p).isApplied("b3"))
    val rebuilt = "target/test_fence/lex_oneshot"
    LexicalIndex.build(docs(0 until 20, "a"), "doc_id", "text", rebuilt,
      n = 2)
    def serve(path: String) =
      LexicalIndex.lexicalTopK(spark, path, queryDocId = 3L, k = 5)
        .as[(Long, Long)].collect().toSeq
    assert(serve(p) === serve(rebuilt))
  }

  /** A stale writer's maintenance call must throw the fence error and
    * commit nothing: `marker` not applied, no new record. */
  private def fencedOut(path: String, marker: Option[String])(op: => Unit): Unit = {
    val snapBefore = LsmLayout.snapshot(spark, path).id
    val err = intercept[IllegalStateException](op)
    assert(err.getMessage.contains("stale writer epoch"), err.getMessage)
    marker.foreach(m => assert(!LsmLayout.snapshot(spark, path).isApplied(m),
      s"a fenced-out call must not apply $m at $path"))
    assert(LsmLayout.snapshot(spark, path).id === snapBefore,
      s"a fenced-out call must not commit a record at $path")
  }

  test("the fence guards every layout family's commit path") {
    // every maintenance op of every layout, called by a superseded
    // writer (epoch 0 after a newer loop took epoch 1)
    val stale = Some(0L)
    val forget = Seq(1L, 2L).toDF("doc_id")
    // lexical
    val lex = "target/test_fence/lex_all"
    LexicalIndex.build(docs(0 until 6, "l"), "doc_id", "text", lex, n = 2)
    LsmLayout.acquireWriterEpoch(spark, lex)
    fencedOut(lex, Some("b1"))(LexicalIndex.refresh(docs(6 until 9, "l"),
      "doc_id", "text", lex, batchId = "b1", writerEpoch = stale))
    fencedOut(lex, Some("ts-d1"))(LexicalIndex.tombstone(
      docs(1 until 3, "l"), "doc_id", "text", lex, batchId = "d1",
      writerEpoch = stale))
    fencedOut(lex, None)(LexicalIndex.compact(spark, lex, stale))
    // band
    val band = "target/test_fence/band"
    BandIndex.build(docs(0 until 6, "b"), "doc_id", "text", band)
    LsmLayout.acquireWriterEpoch(spark, band)
    fencedOut(band, Some("b1"))(BandIndex.append(docs(6 until 9, "b"),
      "doc_id", "text", band, batchId = "b1", writerEpoch = stale))
    fencedOut(band, Some("ts-d1"))(BandIndex.tombstone(forget, "doc_id",
      band, batchId = "d1", writerEpoch = stale))
    fencedOut(band, None)(BandIndex.compact(spark, band, stale))
    // kmv
    val kmv = "target/test_fence/kmv"
    KmvLayout.build(
      docs(0 until 6, "k").withColumn("source", lit("s")),
      "source", "doc_id", "text", kmv)
    LsmLayout.acquireWriterEpoch(spark, kmv)
    fencedOut(kmv, Some("b1"))(KmvLayout.refresh(
      docs(6 until 9, "k").withColumn("source", lit("s")),
      "source", "doc_id", "text", kmv, batchId = "b1", writerEpoch = stale))
    fencedOut(kmv, Some("ts-d1"))(KmvLayout.tombstone(forget, "doc_id", kmv,
      batchId = "d1", writerEpoch = stale))
    fencedOut(kmv, None)(KmvLayout.compact(spark, kmv, stale))
    // ivf
    val ivf = "target/test_fence/ivf"
    val vecs = (1 to 12).map(i =>
      (i.toLong, (0 until 4).map(j => math.sin(i + j).toFloat)))
      .toDF("vec_id", "embedding")
    IvfLayout.build(vecs, "vec_id", "embedding", ivf,
      Similarity.hyperplanes(2, 4).map(_.map(_.toDouble)))
    LsmLayout.acquireWriterEpoch(spark, ivf)
    fencedOut(ivf, Some("b1"))(IvfLayout.refresh(vecs, "vec_id", "embedding",
      ivf, batchId = "b1", writerEpoch = stale))
    fencedOut(ivf, Some("ts-d1"))(IvfLayout.tombstone(
      Seq(1L, 2L).toDF("vec_id"), "vec_id", ivf, batchId = "d1",
      writerEpoch = stale))
    fencedOut(ivf, None)(IvfLayout.compact(spark, ivf, stale))
    fencedOut(ivf, None)(IvfLayout.retrain(spark, ivf, rounds = 1,
      writerEpoch = stale))
    // chunk store
    val cs = "target/test_fence/chunks"
    ChunkStore.build(docs(0 until 6, "c"), "doc_id", "text", cs)
    LsmLayout.acquireWriterEpoch(spark, cs)
    fencedOut(cs, Some("b1"))(ChunkStore.refresh(docs(6 until 9, "c"),
      "doc_id", "text", cs, batchId = "b1", writerEpoch = stale))
    fencedOut(cs, Some("ts-d1"))(ChunkStore.tombstone(forget, "doc_id", cs,
      batchId = "d1", writerEpoch = stale))
    fencedOut(cs, None)(ChunkStore.compact(spark, cs, stale))
    fencedOut(cs, None)(ChunkStore.retentionVacuum(spark, cs, keepFrom = 0L,
      writerEpoch = stale))
    // registry (ingest, forget and compact)
    val reg = "target/test_fence/registry"
    ClusterRegistry.build(docs(0 until 6, "r"), "doc_id", "text", reg)
    LsmLayout.acquireWriterEpoch(spark, reg)
    fencedOut(reg, Some("b1"))(ClusterRegistry.ingest(docs(6 until 9, "r"),
      "doc_id", "text", reg, batchId = "b1", writerEpoch = stale))
    fencedOut(reg, Some("ts-d1"))(ClusterRegistry.forget(forget, "doc_id",
      reg, batchId = "d1", writerEpoch = stale))
    fencedOut(reg, None)(ClusterRegistry.compact(spark, reg, stale))
  }

  test("a superseded writer's re-delivered lexical batch cannot auto-compact") {
    val p = "target/test_fence/lex_autocompact"
    LexicalIndex.build(docs(0 until 8, "x"), "doc_id", "text", p, n = 2)
    val epochA = LsmLayout.acquireWriterEpoch(spark, p)
    LexicalIndex.refresh(docs(8 until 12, "x"), "doc_id", "text", p,
      batchId = "b1", writerEpoch = Some(epochA))
    LsmLayout.acquireWriterEpoch(spark, p)
    // A re-delivers its already-applied batch with a policy the live
    // generations (base + b1) exceed: the auto-compact runs under A's
    // superseded epoch and must be fenced, committing no snapshot
    fencedOut(p, None)(LexicalIndex.refresh(docs(8 until 12, "x"),
      "doc_id", "text", p, batchId = "b1", compactAfterGenerations = 1,
      writerEpoch = Some(epochA)))
  }

  test("a superseded writer's all-duplicate lexical tombstone commits no marker") {
    val p = "target/test_fence/lex_dup_tombstone"
    LexicalIndex.build(docs(0 until 8, "y"), "doc_id", "text", p, n = 2)
    val epochA = LsmLayout.acquireWriterEpoch(spark, p)
    LexicalIndex.tombstone(docs(1 until 3, "y"), "doc_id", "text", p,
      batchId = "d1", writerEpoch = Some(epochA))
    LsmLayout.acquireWriterEpoch(spark, p)
    // every id of d2 is already pending (d1): nothing to write, but the
    // commit of the no-op batch is still a commit and must be fenced
    fencedOut(p, Some("ts-d2"))(LexicalIndex.tombstone(docs(1 until 3, "y"),
      "doc_id", "text", p, batchId = "d2", writerEpoch = Some(epochA)))
  }
}
