package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{LexicalIndex, LsmLayout}

/** Streaming maintenance of the stored lexical index: a real
  * foreachBatch query drives build-then-refresh over micro-batches,
  * and the final index must serve the SAME answers as a one-shot
  * batch build over the union corpus — the stream≡batch discipline
  * applied to warehouse maintenance (n124 gates the batch spelling of
  * this loop against DuckDB; this spec drives the actual stream). */
class StreamingIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("foreachBatch build+refresh over micro-batches == one-shot batch build") {
    implicit val sqlCtx = spark.sqlContext
    // MemoryStream offsets are session-local — a stale checkpoint from
    // a previous JVM cannot resume and fails the query; start clean
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/test_streamidx"))
    val streamed = "target/test_streamidx/streamed"
    val oneShot = "target/test_streamidx/oneshot"
    val b1 = Seq((1L, "a b c a b"), (2L, "a b x"))
    val b2 = Seq((3L, "b c y a b"), (4L, "b c b c"))
    val b3 = Seq((5L, "x y z a b c"))

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 0L)
          LexicalIndex.build(batch, "doc_id", "text", streamed, n = 2,
            buckets = 4)
        else
          // the micro-batch id IS the generation key — foreachBatch
          // re-delivers a failed batch with the SAME id, which the
          // refresh idempotency contract turns into a no-op/overwrite
          LexicalIndex.refresh(batch, "doc_id", "text", streamed,
            batchId = s"mb-$id")
      }
      .option("checkpointLocation", "target/test_streamidx/ckpt")
      .start()
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    LexicalIndex.build((b1 ++ b2 ++ b3).toDF("doc_id", "text"),
      "doc_id", "text", oneShot, n = 2, buckets = 4)

    def serve(path: String) = Seq(
      LexicalIndex.lexicalTopK(spark, path, queryDocId = 1L, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      LexicalIndex.moreLikeThis(spark, path, queryDocId = 1L, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      LexicalIndex.bm25TopK(spark, path, queryDocId = 1L, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      LexicalIndex.pointProbe(spark, path, "a b c", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(serve(streamed) === serve(oneShot),
      "every serving path must be blind to micro-batch boundaries")
    // and the stored stats converge too, not just the ranked answers
    val metaS = LexicalIndex.metaRow(spark, streamed)
      .select("n_docs", "n_tokens").collect().head
    val metaB = LexicalIndex.metaRow(spark, oneShot)
      .select("n_docs", "n_tokens").collect().head
    assert(metaS === metaB)

    // at-least-once replay: re-deliver batch 1 (same batch id, as a
    // retried foreachBatch would) — the served answers must be
    // invariant, i.e. no duplicated generation inflates df/postings
    val before = serve(streamed)
    val physBefore = spark.read.parquet(s"$streamed/postings").count()
    LexicalIndex.refresh(b2.toDF("doc_id", "text"), "doc_id", "text",
      streamed, batchId = "mb-1")
    assert(serve(streamed) === before,
      "a replayed micro-batch must not change any served answer")
    assert(spark.read.parquet(s"$streamed/postings").count() === physBefore,
      "a replayed micro-batch must not append physical rows")
  }

  test("foreachBatch registry maintenance: streamed build+ingests == one-shot, replay-invariant") {
    implicit val sqlCtx = spark.sqlContext
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/test_streamreg"))
    val streamed = "target/test_streamreg/streamed"
    val oneShot = "target/test_streamreg/oneshot"
    def words(lo: Int, hi: Int): String =
      (lo to hi).map(i => s"b$i").mkString(" ")
    // batch 1's doc 2 near-dups doc 1 (J = 16/20); batch 2's doc 10
    // BRIDGES {1,2} and {3} (J = 17/20 both ways) — the merge must
    // re-map doc 3's cluster THROUGH the streaming loop
    val b1 = Seq((1L, words(1, 20)), (3L, words(6, 25)),
      (4L, (1 to 20).map(i => s"z$i").mkString(" ")))
    val b2 = Seq((2L, words(3, 22)))
    val b3 = Seq((10L, words(4, 24)))

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // delta-only: the registry owns its text ledger — the loop
        // carries NO driver-side corpus stand-in across micro-batches
        if (id == 0L)
          graft.operators.ClusterRegistry.build(
            batch, "doc_id", "text", streamed, threshold = 0.8)
        else
          graft.operators.ClusterRegistry.ingest(
            batch, "doc_id", "text", streamed, batchId = s"mb-$id")
        ()
      }
      .option("checkpointLocation", "target/test_streamreg/ckpt")
      .start()
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    graft.operators.ClusterRegistry.build(
      (b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text", oneShot,
      threshold = 0.8)
    def assigned(p: String) = graft.operators.ClusterRegistry
      .assignments(spark, p)
      .as[(Long, Long)].collect().toMap
    val want = assigned(oneShot)
    assert(assigned(streamed) === want,
      "the streamed registry must assign like the one-shot clustering")
    assert(want === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L),
      "the bridge merge must have propagated through the stream")
    // at-least-once replay of the LAST micro-batch (the in-flight one
    // foreachBatch re-delivers), marker-less — the read-modify-write
    // hazard class: the replay must exclude its own partial generation
    // on BOTH layouts and overwrite bit-for-bit
    val physA = spark.read.parquet(s"$streamed/assignments").count()
    val physB = spark.read.parquet(s"$streamed/band/postings").count()
    LsmLayout.dropCommit(spark, streamed, "mb-2")
    LsmLayout.dropCommit(spark, s"$streamed/band", "mb-2")
    graft.operators.ClusterRegistry.ingest(
      b3.toDF("doc_id", "text"),
      "doc_id", "text", streamed, batchId = "mb-2")
    assert(assigned(streamed) === want,
      "a replayed micro-batch must not change any assignment")
    assert(spark.read.parquet(s"$streamed/assignments").count() === physA,
      "a replayed micro-batch must not append assignment rows")
    assert(spark.read.parquet(s"$streamed/band/postings").count() === physB,
      "a replayed micro-batch must not append band postings")
  }

  test("foreachBatch band-index maintenance: streamed build+appends == one-shot, replay-invariant") {
    implicit val sqlCtx = spark.sqlContext
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/test_streamband"))
    val streamed = "target/test_streamband/streamed"
    val oneShot = "target/test_streamband/oneshot"
    def words(n: Int, tag: String): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val b1 = Seq((1L, words(20, "a")), (2L, words(20, "b")))
    val b2 = Seq((3L, words(20, "c")))
    val b3 = Seq((4L, words(19, "b") + " zzz")) // near-dup of doc 2

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 0L)
          graft.operators.BandIndex.build(batch, "doc_id", "text", streamed)
        else
          graft.operators.BandIndex.append(batch, "doc_id", "text",
            streamed, batchId = s"mb-$id")
      }
      .option("checkpointLocation", "target/test_streamband/ckpt")
      .start()
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    import spark.implicits._
    val corpus = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    graft.operators.BandIndex.build(corpus, "doc_id", "text", oneShot)
    val probe = Seq((101L, words(20, "b"))).toDF("doc_id", "text")
    def probed(p: String) = graft.operators.BandIndex
      .probe(corpus, probe, "doc_id", "text", p, 0.8)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = probed(oneShot)
    assert(probed(streamed) === expected,
      "the streamed index must probe like the one-shot build")
    assert(expected.map(t => (t._1, t._2)) === Seq((101L, 2L), (101L, 4L)),
      "the probe must hit doc 2 exactly and doc 4 at J = 17/19")
    // re-deliver micro-batch 2 — answers and physical rows invariant
    val phys = spark.read.parquet(s"$streamed/postings").count()
    graft.operators.BandIndex.append(b2.toDF("doc_id", "text"),
      "doc_id", "text", streamed, batchId = "mb-1")
    assert(probed(streamed) === expected)
    assert(spark.read.parquet(s"$streamed/postings").count() === phys)
  }

  test("foreachBatch corpus coordinator: one ingest call fans each micro-batch to six layouts, replay-invariant") {
    import graft.operators._
    implicit val sqlCtx = spark.sqlContext
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/test_streamcorpus"))
    val root = "target/test_streamcorpus/streamed"
    val lay = CorpusLifecycle.CorpusLayouts(
      registry = Some(s"$root/registry"), band = Some(s"$root/band"),
      lexical = Some(s"$root/lexical"), kmv = Some(s"$root/kmv"),
      ivf = Some(s"$root/ivf"), chunks = Some(s"$root/chunks"))
    def words(lo: Int, hi: Int): String =
      (lo to hi).map(i => s"b$i").mkString(" ")
    def fix(ids: Seq[Long]): Seq[(Long, String)] =
      ids.map(i => (i, words(5 * ((i.toInt + 1) / 2),
        5 * ((i.toInt + 1) / 2) + 19)))
    def vecsOf(d: org.apache.spark.sql.DataFrame) = d.select("doc_id")
      .as[Long].collect().toSeq
      .map(i => (i, (0 until 8).map(j => math.sin(i * 0.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val b1 = fix(1L to 6L)
    val b2 = fix(7L to 9L)
    val b3 = fix(10L to 12L)

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (id == 0L) {
          ClusterRegistry.build(batch, "doc_id", "text", s"$root/registry")
          BandIndex.build(batch, "doc_id", "text", s"$root/band")
          LexicalIndex.build(batch, "doc_id", "text", s"$root/lexical", n = 2)
          KmvLayout.build(batch.withColumn("g", col("doc_id")),
            "g", "doc_id", "text", s"$root/kmv", k = 16)
          IvfLayout.build(vecsOf(batch), "vec_id", "embedding",
            s"$root/ivf", Similarity.hyperplanes(2, 8).map(_.map(_.toDouble)))
          ChunkStore.build(batch, "doc_id", "text", s"$root/chunks",
            maskBits = 3)
        } else CorpusLifecycle.ingest(
          batch.withColumn("g", col("doc_id")), "doc_id", "text", lay,
          batchId = s"mb-$id", groupCol = Some("g"),
          deltaVectors = Some((vecsOf(batch), "vec_id", "embedding")))
        ()
      }
      .option("checkpointLocation", "target/test_streamcorpus/ckpt")
      .start()
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    // every layout serves the full 12-doc corpus after the stream
    def audits() = CorpusLifecycle.ingestAudit(spark, lay,
      (1L to 12L).toDF("doc_id"), "doc_id")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val a = audits()
    assert(a.values.forall(v => v._1 == 12L && v._2 == 12L),
      s"a layout is missing streamed docs: $a")
    // and the registry clusters exactly like a one-shot batch build
    ClusterRegistry.build((b1 ++ b2 ++ b3).toDF("doc_id", "text"),
      "doc_id", "text", "target/test_streamcorpus/oneshot")
    def assigned(p: String) = ClusterRegistry.assignments(spark, p)
      .as[(Long, Long)].collect().toMap
    assert(assigned(s"$root/registry") ===
      assigned("target/test_streamcorpus/oneshot"))

    // marker-less replay of the LAST micro-batch through the
    // COORDINATOR (the at-least-once re-delivery, with every applied
    // marker gone): serving and physical rows invariant on all six
    val physical = Seq(
      s"$root/registry/assignments", s"$root/registry/ledger",
      s"$root/band/postings",
      s"$root/lexical/postings", s"$root/kmv/sketches",
      s"$root/ivf/vectors", s"$root/chunks/manifest")
    val before = physical.map(p => p -> spark.read.parquet(p).count()).toMap
    Seq(s"$root/registry", s"$root/registry/band", s"$root/band",
      s"$root/lexical", s"$root/kmv", s"$root/ivf", s"$root/chunks")
      .foreach(p => LsmLayout.dropCommit(spark, p, "mb-2"))
    CorpusLifecycle.ingest(
      b3.toDF("doc_id", "text").withColumn("g", col("doc_id")),
      "doc_id", "text", lay, batchId = "mb-2", groupCol = Some("g"),
      deltaVectors = Some((vecsOf(b3.toDF("doc_id", "text")),
        "vec_id", "embedding")))
    assert(audits() === a, "a replayed micro-batch changed serving")
    physical.foreach(p =>
      assert(spark.read.parquet(p).count() === before(p),
        s"a replayed micro-batch appended physical rows under $p"))
  }
}
