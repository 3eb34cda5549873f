package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The content-addressed chunk store as a maintained layout: lossless
  * reconstruction (the s42/s47 oracles gate it end-to-end against
  * DuckDB), edit-sized store growth, and at-least-once idempotency. */
class ChunkStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus = (0 until 60).map { i =>
    // overlapping token runs so content-defined chunks are SHARED
    // across docs — the dedup the store exists for
    (i.toLong, (i until i + 30).map(j => s"w${j % 40}").mkString(" "))
  }.toDF("doc_id", "text")

  test("build + refresh reconstructs losslessly and equals the one-shot build") {
    val inc = "target/test_chunkstore/inc"
    val full = "target/test_chunkstore/full"
    ChunkStore.build(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", inc)
    ChunkStore.refresh(
      corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text", inc,
      batchId = "b1")
    ChunkStore.build(corpus, "doc_id", "text", full)
    def rec(p: String) = ChunkStore.reconstruct(spark, p)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rec(inc) === rec(full))
    // lossless against the raw text
    val direct = corpus
      .select(col("doc_id"), md5(col("text")).as("m"))
      .as[(Long, String)].collect().toMap
    rec(inc).foreach { case (id, _, m) => assert(m === direct(id)) }
    // the delta generation carries ONLY content-new chunks: every b1
    // store row's hash is absent from base (the anti-join contract)
    val base = spark.read.parquet(s"$inc/store")
      .filter(col("gen") === "base").select("chunk_h")
    val b1 = spark.read.parquet(s"$inc/store")
      .filter(col("gen") === "b1").select("chunk_h")
    assert(b1.join(base, Seq("chunk_h"), "left_semi").count() === 0L,
      "refresh must never re-store a chunk the store already holds")
  }

  test("re-ingesting an edited doc under its existing id is last-writer-wins") {
    val p = "target/test_chunkstore/edit"
    ChunkStore.build(corpus, "doc_id", "text", p)
    // doc 7 edited (one token changed) and re-synced under the SAME id —
    // the n169 edited-corpus workflow; doc 61 is a plain new doc
    val edited = "w7 EDITED " + (9 until 37).map(j => s"w${j % 40}").mkString(" ")
    val delta = Seq((7L, edited), (61L, "zz1 zz2 zz3")).toDF("doc_id", "text")
    ChunkStore.refresh(delta, "doc_id", "text", p, batchId = "b1")
    val rec = ChunkStore.reconstruct(spark, p)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    val expect = corpus.filter(col("doc_id") =!= 7)
      .unionByName(delta)
      .select(col("doc_id"), md5(col("text")).as("m"))
      .as[(Long, String)].collect().toMap
    assert(rec === expect,
      "reconstruct must serve the EDITED doc 7, not a merged garble")
    // and the supersede survives a marker-less replay of the edit batch
    LsmLayout.dropCommit(spark, p, "b1")
    ChunkStore.refresh(delta, "doc_id", "text", p, batchId = "b1")
    val rec2 = ChunkStore.reconstruct(spark, p)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(rec2 === expect)
  }

  test("tombstone hides the doc immediately; compact's refcount sweep reclaims physically") {
    val p = "target/test_chunkstore/forget"
    // docs 100/101 share all chunks except doc 100's unique head run;
    // doc 102 is entirely unique — its chunks must ALL be reclaimed
    val d = Seq(
      (100L, "u1 u2 u3 " + (0 until 30).map(j => s"w${j % 40}").mkString(" ")),
      (101L, (0 until 30).map(j => s"w${j % 40}").mkString(" ")),
      (102L, (1 to 20).map(j => s"only$j").mkString(" ")))
      .toDF("doc_id", "text")
    ChunkStore.build(d, "doc_id", "text", p)
    val storeBefore = spark.read.parquet(s"$p/store").count()
    ChunkStore.tombstone(Seq(102L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    // visible before any compact, at forget-set cost
    val rec = ChunkStore.reconstruct(spark, p)
      .as[(Long, Long, String)].collect().map(_._1).toSet
    assert(rec === Set(100L, 101L))
    // idempotent re-delivery
    ChunkStore.tombstone(Seq(102L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    // compact: doc 102's chunks leave the NEW base; shared chunks stay
    // (superseded dirs survive one cycle for concurrent readers)
    ChunkStore.compact(spark, p)
    val snap = LsmLayout.snapshot(spark, p)
    assert(snap.pendingTombstones.isEmpty)
    val store = spark.read.parquet(s"$p/store")
      .filter(col("gen") === snap.base)
      .as[(String, String, String)].collect() // chunk_h, chunk, gen
    assert(store.length < storeBefore)
    assert(!store.exists(_._2.contains("only")),
      "the forgotten doc's unique chunks must be reclaimed")
    assert(store.exists(_._2.contains("u1")),
      "doc 100's surviving unique chunks must stay")
    val rec2 = ChunkStore.reconstruct(spark, p)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    val expect = d.filter(col("doc_id") =!= 102)
      .select(col("doc_id"), md5(col("text")).as("m"))
      .as[(Long, String)].collect().toMap
    assert(rec2 === expect, "compact must not change surviving answers")
    // second cycle: the GC sweeps the superseded dirs physically
    ChunkStore.compact(spark, p)
    assert(!LsmLayout.dirExists(spark, s"$p/tombstones"))
    assert(!spark.read.parquet(s"$p/store")
      .as[(String, String, String)].collect().exists(_._2.contains("only")),
      "after the GC cycle no physical dir holds the forgotten chunks")
  }

  test("compact reclaims dead chunks superseded edit manifests left behind") {
    val p = "target/test_chunkstore/sweep"
    ChunkStore.build(corpus, "doc_id", "text", p)
    // re-ingest EVERY doc with a tail edit that reseals its last chunk
    val edited = corpus.select(col("doc_id"),
      concat(col("text"), lit(" tailedit")).as("text"))
    ChunkStore.refresh(edited, "doc_id", "text", p, batchId = "b1")
    val before = spark.read.parquet(s"$p/store").count()
    // the compact-decision report must predict the sweep exactly
    val (nLive, nDead, deadChars) = ChunkStore.deadChunkStats(spark, p)
      .as[(Long, Long, Long)].collect().head
    assert(nLive + nDead === before)
    assert(nDead > 0L && deadChars > 0L)
    ChunkStore.compact(spark, p)
    val snap = LsmLayout.snapshot(spark, p)
    val after = spark.read.parquet(s"$p/store")
      .filter(col("gen") === snap.base).count()
    assert(after < before,
      "superseded manifests' dead chunks must leave the store")
    assert(after === nLive,
      "deadChunkStats must predict the refcount sweep row-for-row")
    // and the folded layout still reconstructs the edited corpus
    val rec = ChunkStore.reconstruct(spark, p)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    val expect = edited
      .select(col("doc_id"), md5(col("text")).as("m"))
      .as[(Long, String)].collect().toMap
    assert(rec === expect)
    assert(LsmLayout.liveGenerationCount(spark, p, s"$p/manifest") === 1)
  }

  test("refresh is idempotent under clean retry and marker-less replay") {
    val p = "target/test_chunkstore/retry"
    val delta = corpus.filter(col("doc_id") % 2 === 1)
    ChunkStore.build(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
    ChunkStore.refresh(delta, "doc_id", "text", p, batchId = "b1")
    val store = spark.read.parquet(s"$p/store").count()
    val manifest = spark.read.parquet(s"$p/manifest").count()
    ChunkStore.refresh(delta, "doc_id", "text", p, batchId = "b1")
    assert(spark.read.parquet(s"$p/store").count() === store)
    assert(spark.read.parquet(s"$p/manifest").count() === manifest)
    LsmLayout.dropCommit(spark, p, "b1")
    ChunkStore.refresh(delta, "doc_id", "text", p, batchId = "b1")
    assert(spark.read.parquet(s"$p/store").count() === store,
      "a replayed batch must replace its generation, not append")
    assert(spark.read.parquet(s"$p/manifest").count() === manifest)
  }

  test("asOf pins are membership-exact across compacts; versions collapse at fold; GDPR reaches pins") {
    val p = "target/test_chunkstore/asof"
    val base = corpus.filter(col("doc_id") < 10)          // seq 0
    val editedText = "pin EDITED " + (5 until 25).map(j => s"w${j % 40}").mkString(" ")
    val b1 = Seq((10L, "n1 n2 n3 n4 n5"), (3L, editedText))
      .toDF("doc_id", "text")                             // seq 1 (+ edit of 3)
    val b2 = Seq((11L, "m1 m2 m3 m4 m5")).toDF("doc_id", "text") // seq 2
    ChunkStore.build(base, "doc_id", "text", p)
    ChunkStore.refresh(b1, "doc_id", "text", p, batchId = "b1")
    ChunkStore.refresh(b2, "doc_id", "text", p, batchId = "b2")
    def served(asOf: Option[Long]) = ChunkStore
      .servedDocIds(spark, p, asOf)
      .as[Long].collect().sorted.toSeq
    def md5Of(asOf: Option[Long]) = ChunkStore
      .reconstruct(spark, p, asOf)
      .select(col("doc_id"), col("text_md5"))
      .as[(Long, String)].collect().toMap
    val origMd5 = base.select(col("doc_id"), md5(col("text")))
      .as[(Long, String)].collect().toMap
    val editMd5 = Seq(editedText).toDF("t").select(md5(col("t")))
      .as[String].head()
    // pre-compact: pins are version-exact — asOf 0 serves the ORIGINAL
    // doc-3 text, asOf 1 the edited one; membership follows the seq
    assert(served(Some(0L)) === (0L until 10L),
      "pin 0 must serve exactly the build set")
    assert(served(Some(1L)) === ((0L until 10L) :+ 10L))
    assert(md5Of(Some(0L)) === origMd5)
    assert(md5Of(Some(1L))(3L) === editMd5)
    ChunkStore.compact(spark, p)
    // post-compact: membership pins still exact (per-row seqs survive
    // the fold); VERSION history collapsed — doc 3 now serves its
    // latest-as-of-fold text under every pin that includes it (the
    // documented partial-collapse semantics), and no pinned manifest
    // row can reference a swept chunk (reconstruct must not lose rows)
    assert(served(Some(0L)) === (0L until 10L),
      "membership pins must survive the compact")
    assert(served(Some(1L)) === ((0L until 10L) :+ 10L))
    val pinned0 = md5Of(Some(0L))
    assert(pinned0.keySet === (0L until 10L).toSet)
    assert(pinned0(3L) === editMd5,
      "post-compact, the pinned doc serves its latest-as-of-fold text")
    assert(pinned0.filterNot(_._1 == 3L) === origMd5.filterNot(_._1 == 3L))
    // the ordinal never restarts: a post-compact refresh mints seq 3
    val b3 = Seq((12L, "q1 q2 q3 q4 q5")).toDF("doc_id", "text")
    ChunkStore.refresh(b3, "doc_id", "text", p, batchId = "b3")
    val b3Seqs = spark.read.parquet(s"$p/manifest")
      .filter(col("gen") === "b3")
      .select(col("seq")).distinct().as[Long].collect().toSeq
    assert(b3Seqs === Seq(3L),
      "the post-compact ingest ordinal must continue, not restart at 1")
    assert(served(Some(2L)) === ((0L until 10L) ++ Seq(10L, 11L)))
    assert(served(None) === ((0L until 10L) ++ Seq(10L, 11L, 12L)))
    // GDPR outranks pins: a tombstone hides the doc at EVERY pin
    ChunkStore.tombstone(Seq(5L).toDF("doc_id"), "doc_id", p,
      batchId = "g1")
    assert(served(Some(0L)) === (0L until 10L).filterNot(_ == 5L))
    assert(!md5Of(Some(0L)).contains(5L))
  }

  test("retentionVacuum drops pre-floor versions physically; in-window pins stay version-exact") {
    val p = "target/test_chunkstore/retention"
    val base = corpus.filter(col("doc_id") < 10)          // seq 0
    val edit1 = "ret E1 " + (5 until 25).map(j => s"w${j % 40}").mkString(" ")
    val edit2 = "ret E2 " + (9 until 29).map(j => s"w${j % 40}").mkString(" ")
    ChunkStore.build(base, "doc_id", "text", p)
    // doc 3 edited TWICE (seq 1 and 2); doc 10 arrives at seq 1
    ChunkStore.refresh(
      Seq((3L, edit1), (10L, "n1 n2 n3 n4 n5")).toDF("doc_id", "text"),
      "doc_id", "text", p, batchId = "b1")
    ChunkStore.refresh(Seq((3L, edit2)).toDF("doc_id", "text"),
      "doc_id", "text", p, batchId = "b2")
    def served(asOf: Option[Long]) = ChunkStore
      .servedDocIds(spark, p, asOf).as[Long].collect().sorted.toSeq
    def md5Of(asOf: Option[Long]) = ChunkStore
      .reconstruct(spark, p, asOf)
      .select(col("doc_id"), col("text_md5"))
      .as[(Long, String)].collect().toMap
    def strMd5(t: String) =
      Seq(t).toDF("t").select(md5(col("t"))).as[String].head()
    val before1 = md5Of(Some(1L))
    val beforeNow = md5Of(None)
    ChunkStore.retentionVacuum(spark, p, keepFrom = 1L)
    // physical teeth: doc 3's seq-0 version is GONE from the new base
    // (it was superseded at-or-before the floor); its floor version is
    // re-stamped with the first-appearance ordinal so membership pins
    // below the floor keep resolving
    val snap = LsmLayout.snapshot(spark, p)
    val man = spark.read.parquet(s"$p/manifest")
      .filter(col("gen") === snap.base)
    assert(man.filter(col("doc_id") === 3L)
      .select(col("seq")).distinct().as[Long].collect().sorted.toSeq
      === Seq(0L, 2L),
      "doc 3 must keep exactly its floor (re-stamped 0) and in-window versions")
    // in-window pins are VERSION-exact (stronger than compact): pin 1
    // serves edit1, NOW serves edit2, both unchanged by the vacuum
    assert(md5Of(Some(1L)) === before1)
    assert(md5Of(Some(1L))(3L) === strMd5(edit1))
    assert(md5Of(None) === beforeNow)
    assert(md5Of(None)(3L) === strMd5(edit2))
    // membership pins below the floor still resolve (the compact
    // discipline); doc 3's pre-floor TEXT collapsed to the floor's
    assert(served(Some(0L)) === (0L until 10L))
    assert(md5Of(Some(0L))(3L) === strMd5(edit1))
    // orphaned chunks swept: no stored chunk is unreferenced
    val liveRefs = spark.read.parquet(s"$p/manifest")
      .filter(col("gen") === snap.base).select("chunk_h").distinct()
    assert(spark.read.parquet(s"$p/store")
      .filter(col("gen") === snap.base)
      .join(liveRefs, Seq("chunk_h"), "left_anti").count() === 0L,
      "the refcount sweep must drop chunks only pre-floor history referenced")
    // second cycle: GC sweeps the superseded dirs (the two-cycle rule)
    ChunkStore.compact(spark, p)
    assert(!spark.read.parquet(s"$p/manifest")
      .select(col("gen")).distinct().as[String].collect().contains("b1"),
      "the next cycle's GC must sweep the vacuumed generations")
  }
}
