package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Closed-form coverage for the stored lexical index: build contents,
  * refresh ≡ rebuild, the driver-side literal spellings vs the engine
  * spellings, and a hand-computed BM25 fixture. The DuckDB oracles
  * (s28–s31, n122) gate the serving answers end-to-end; these pin the
  * pieces. */
class LexicalIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "a b c a b"),   // grams(2): "a b"(tf 2), "b c", "c a"; dl 5
    (2L, "a b x"),       // grams(2): "a b", "b x"; dl 3
    (3L, "zz"),          // shorter than n: no postings, still in meta
    (4L, "b c b c"))     // grams(2): "b c"(tf 2), "c b"; dl 4
    .toDF("doc_id", "text")

  test("build: postings carry exact ns/dl/tf; lexicon df; meta counts") {
    val path = "target/test_lexidx/build"
    LexicalIndex.build(corpus, "doc_id", "text", path, n = 2, buckets = 4)
    val post = LexicalIndex.postings(spark, path)
      .select("doc_id", "ns", "dl", "shingle", "tf")
      .collect()
      .map(r => (r.getLong(0), r.getString(3)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(post === Map(
      (1L, "a b") -> ((3L, 5L, 2L)),
      (1L, "b c") -> ((3L, 5L, 1L)),
      (1L, "c a") -> ((3L, 5L, 1L)),
      (2L, "a b") -> ((2L, 3L, 1L)),
      (2L, "b x") -> ((2L, 3L, 1L)),
      (4L, "b c") -> ((2L, 4L, 2L)),
      (4L, "c b") -> ((2L, 4L, 1L))))
    val lex = LexicalIndex.lexicon(spark, path)
      .collect().map(r => r.getAs[String]("shingle") -> r.getAs[Long]("df")).toMap
    assert(lex === Map("a b" -> 2L, "b c" -> 2L, "c a" -> 1L,
      "b x" -> 1L, "c b" -> 1L))
    val meta = spark.read.parquet(s"$path/meta").collect().head
    assert((meta.getAs[Long]("n_docs"), meta.getAs[Long]("n_tokens")) ===
      ((4L, 5L + 3L + 1L + 4L))) // doc 3 counts even with no postings
  }

  test("refresh == rebuild: postings set, lexicon and meta all converge") {
    val inc = "target/test_lexidx/inc"
    val full = "target/test_lexidx/full"
    val base = corpus.filter(col("doc_id") <= 2)
    val delta = corpus.filter(col("doc_id") > 2)
    LexicalIndex.build(base, "doc_id", "text", inc, n = 2, buckets = 4)
    LexicalIndex.refresh(delta, "doc_id", "text", inc, batchId = "b1")
    LexicalIndex.build(corpus, "doc_id", "text", full, n = 2, buckets = 4)
    def posts(p: String) = LexicalIndex.postings(spark, p)
      .select("doc_id", "ns", "dl", "shingle", "tf", "bucket")
      .collect().map(_.toSeq).toSet
    def lexi(p: String) = LexicalIndex.lexicon(spark, p)
      .select("shingle", "df").collect().map(_.toSeq).toSet
    def meta(p: String) = LexicalIndex.metaRow(spark, p)
      .select("n_docs", "n_tokens").collect().map(_.toSeq).toSet
    assert(posts(inc) === posts(full))
    assert(lexi(inc) === lexi(full))
    assert(meta(inc) === meta(full))
    // the refresh appended a generation (LSM) — compaction folds it
    // back to one LIVE generation without changing the logical
    // relations (superseded dirs stay on disk one cycle for concurrent
    // readers; reads scope to the snapshot)
    assert(spark.read.parquet(s"$inc/meta").count() === 2L)
    LexicalIndex.compact(spark, inc)
    val snap = LsmLayout.snapshot(spark, inc)
    assert(spark.read.parquet(s"$inc/meta")
      .filter(col("gen") === snap.base).count() === 1L)
    assert(posts(inc) === posts(full))
    assert(lexi(inc) === lexi(full))
    assert(meta(inc) === meta(full))
    val lexRows = LexicalIndex.lexicon(spark, inc).count()
    assert(lexRows === lexi(full).size.toLong,
      "compacted lexicon must hold exactly one row per shingle")
  }

  test("literalShingles and bucketOf match the engine spellings exactly") {
    val texts = Seq("a b c a b", "x  y  z", "", "single", "héllo wörld ✓ tail")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val engine = df
      .select(col("i"),
        TextOps.shinglesFromTokens(TextOps.tokens(col("t")), 2).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(LexicalIndex.literalShingles(t, 2) === engine(i),
        s"driver-side shingling diverged for: '$t'")
    }
    val allSh = engine.values.flatten.toSeq.distinct
    if (allSh.nonEmpty) {
      val engineBuckets = allSh.toDF("sh")
        .select(col("sh"), pmod(TextOps.hexHash60(col("sh")), lit(16L)).as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      allSh.foreach { sh =>
        assert(LexicalIndex.bucketOf(sh, 16) === engineBuckets(sh),
          s"driver-side bucket diverged for: '$sh'")
      }
    }
  }

  test("bm25TopK matches the hand-computed closed form on a tiny corpus") {
    // corpus above, query doc 1, n = 2. Query grams: "a b", "b c", "c a".
    // N = 4, T = 13. idf grid: w(sh) = round(1e6 * N / df).
    //   w("a b") = round(1e6*4/2) = 2000000; w("b c") = 2000000;
    //   w("c a") = 1000000 * 4 = 4000000.
    // term(w, tf, dl) = round(w * 22.0 * T * tf / (10*T*tf + 3*T + 9*dl*N))
    // doc 2 (dl 3): shares "a b" tf 1 →
    //   round(2e6*22*13*1 / (130 + 39 + 108)) = round(572000000/277)
    // doc 4 (dl 4): shares "b c" tf 2 →
    //   round(2e6*22*13*2 / (260 + 39 + 144)) = round(1144000000/443)
    val path = "target/test_lexidx/bm25"
    LexicalIndex.build(corpus, "doc_id", "text", path, n = 2, buckets = 4)
    val got = LexicalIndex.bm25TopK(spark, path, queryDocId = 1L, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d2 = math.round(2000000.0 * 22.0 * 13.0 * 1.0 / (130 + 39 + 108))
    val d4 = math.round(2000000.0 * 22.0 * 13.0 * 2.0 / (260 + 39 + 144))
    assert(got === Map(2L -> d2, 4L -> d4))
    assert(got(4L) > got(2L), "higher tf must outrank at similar idf mass")
  }

  test("pointProbe on a stored doc's text ranks exactly like the idf-sum for its shingles") {
    val path = "target/test_lexidx/probe"
    LexicalIndex.build(corpus, "doc_id", "text", path, n = 2, buckets = 4)
    // query text = doc 1's text; probe includes doc 1 itself (the
    // point probe has no self-exclusion — the query is ad hoc)
    val got = LexicalIndex.pointProbe(spark, path, "a b c a b", k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // w as in the bm25 fixture; idf-sum per doc over SHARED distinct
    // grams: doc1 all three = 2e6+2e6+4e6; doc2 "a b" = 2e6;
    // doc4 "b c" = 2e6
    assert(got === Map(1L -> 8000000L, 2L -> 2000000L, 4L -> 2000000L))
  }

  test("tombstone == rebuild on the remaining corpus; compact drops rows physically") {
    val del = "target/test_lexidx/forget"
    val rem = "target/test_lexidx/remain"
    LexicalIndex.build(corpus, "doc_id", "text", del, n = 2, buckets = 4)
    LexicalIndex.tombstone(
      corpus.filter(col("doc_id") === 1), "doc_id", "text", del,
      batchId = "d1")
    LexicalIndex.build(
      corpus.filter(col("doc_id") =!= 1), "doc_id", "text", rem,
      n = 2, buckets = 4)
    def posts(p: String) = LexicalIndex.postings(spark, p)
      .select("doc_id", "ns", "dl", "shingle", "tf", "bucket")
      .collect().map(_.toSeq).toSet
    def lexi(p: String) = LexicalIndex.lexicon(spark, p)
      .select("shingle", "df").collect().map(_.toSeq).toSet
    def meta(p: String) = LexicalIndex.metaRow(spark, p)
      .select("n_docs", "n_tokens").collect().map(_.toSeq).toSet
    assert(posts(del) === posts(rem))
    assert(lexi(del) === lexi(rem))
    assert(meta(del) === meta(rem))
    // "c a" existed only in doc 1 — its df folded to 0 and it must have
    // left the logical vocabulary
    assert(!lexi(del).exists(_.head == "c a"))
    // the PHYSICAL postings still hold doc 1's rows until compaction;
    // the first compact's new base drops them, the second cycle's GC
    // sweeps the superseded dirs and the applied tombstone batch
    LexicalIndex.compact(spark, del)
    val snap = LsmLayout.snapshot(spark, del)
    assert(spark.read.parquet(s"$del/postings")
      .filter(col("gen") === snap.base && col("doc_id") === 1)
      .count() === 0L,
      "compact must drop the tombstoned postings from the new base")
    assert(snap.pendingTombstones.isEmpty,
      "compact must retire the forget-set")
    assert(posts(del) === posts(rem))
    assert(lexi(del) === lexi(rem))
    assert(meta(del) === meta(rem))
    LexicalIndex.compact(spark, del)
    assert(spark.read.parquet(s"$del/postings")
      .filter(col("doc_id") === 1).count() === 0L,
      "the second cycle's GC must sweep the superseded postings")
    assert(!new java.io.File(s"$del/tombstones").exists(),
      "the second cycle's GC must clear the forget-set")
    assert(posts(del) === posts(rem))
  }

  test("tombstone is idempotent: a re-delivered delete subtracts nothing twice") {
    val once = "target/test_lexidx/forget_once"
    val twice = "target/test_lexidx/forget_twice"
    Seq(once, twice).foreach { p =>
      LexicalIndex.build(corpus, "doc_id", "text", p, n = 2, buckets = 4)
      LexicalIndex.tombstone(
        corpus.filter(col("doc_id") === 1), "doc_id", "text", p,
        batchId = "d1")
    }
    // a logically duplicate delete arriving as a NEW batch: the
    // cross-batch id filter must subtract nothing twice
    LexicalIndex.tombstone(
      corpus.filter(col("doc_id") === 1), "doc_id", "text", twice,
      batchId = "d2")
    // and a same-batch retry (at-least-once re-delivery) must no-op
    // on the applied marker
    LexicalIndex.tombstone(
      corpus.filter(col("doc_id") === 1), "doc_id", "text", twice,
      batchId = "d1")
    def lexi(p: String) = LexicalIndex.lexicon(spark, p)
      .select("shingle", "df").collect().map(_.toSeq).toSet
    def meta(p: String) = LexicalIndex.metaRow(spark, p)
      .select("n_docs", "n_tokens").collect().map(_.toSeq).toSet
    assert(lexi(twice) === lexi(once),
      "a double delete must not subtract df twice")
    assert(meta(twice) === meta(once),
      "a double delete must not shrink meta twice")
    // and the tombstone list holds the id once
    assert(spark.read.parquet(s"$twice/tombstones").count() === 1L)
  }

  test("refresh is idempotent under at-least-once retry: re-applied batch changes nothing") {
    val inc = "target/test_lexidx/retry_inc"
    val full = "target/test_lexidx/retry_full"
    val base = corpus.filter(col("doc_id") <= 2)
    val delta = corpus.filter(col("doc_id") > 2)
    LexicalIndex.build(base, "doc_id", "text", inc, n = 2, buckets = 4)
    LexicalIndex.refresh(delta, "doc_id", "text", inc, batchId = "b1")
    def state() = (
      LexicalIndex.postings(spark, inc)
        .select("doc_id", "ns", "dl", "shingle", "tf", "bucket")
        .collect().map(_.toSeq).toSet,
      LexicalIndex.lexicon(spark, inc)
        .select("shingle", "df").collect().map(_.toSeq).toSet,
      LexicalIndex.metaRow(spark, inc)
        .select("n_docs", "n_tokens").collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$inc/postings").count(), // PHYSICAL rows too
      spark.read.parquet(s"$inc/meta").count())
    val before = state()
    // the foreachBatch retry: the SAME batch id re-delivered
    LexicalIndex.refresh(delta, "doc_id", "text", inc, batchId = "b1")
    assert(state() === before,
      "a retried batch must not duplicate a generation")
    // even a PARTIAL first attempt heals: simulate by dropping the
    // batch's record (so the retry re-runs) — the generation-keyed
    // dynamic overwrite must replace, not append
    assert(LsmLayout.snapshot(spark, inc).isApplied("b1"),
      "refresh must record the applied batch")
    LsmLayout.dropCommit(spark, inc, "b1")
    LexicalIndex.refresh(delta, "doc_id", "text", inc, batchId = "b1")
    assert(state() === before,
      "a replayed batch without its record must overwrite its own generation")
    // and the logical relations still equal a from-scratch rebuild
    LexicalIndex.build(corpus, "doc_id", "text", full, n = 2, buckets = 4)
    assert(LexicalIndex.lexicon(spark, inc)
      .select("shingle", "df").collect().map(_.toSeq).toSet ===
      LexicalIndex.lexicon(spark, full)
        .select("shingle", "df").collect().map(_.toSeq).toSet)
  }

  test("auto-compaction: the policy fires inside refresh and preserves the logical relations") {
    val p = "target/test_lexidx/autocompact"
    LexicalIndex.build(
      corpus.filter(col("doc_id") === 1), "doc_id", "text", p,
      n = 2, buckets = 4)
    // three single-doc refreshes with a threshold of 2 generations:
    // the third refresh pushes the count to 3 > 2 and must compact
    Seq(2L, 3L, 4L).foreach { id =>
      LexicalIndex.refresh(
        corpus.filter(col("doc_id") === id), "doc_id", "text", p,
        batchId = s"b$id", compactAfterGenerations = 2)
    }
    assert(LexicalIndex.generationCount(spark, p) === 1,
      "the policy must have folded the generations back to one")
    val full = "target/test_lexidx/autocompact_full"
    LexicalIndex.build(corpus, "doc_id", "text", full, n = 2, buckets = 4)
    def lexi(q: String) = LexicalIndex.lexicon(spark, q)
      .select("shingle", "df").collect().map(_.toSeq).toSet
    def meta(q: String) = LexicalIndex.metaRow(spark, q)
      .select("n_docs", "n_tokens").collect().map(_.toSeq).toSet
    assert(lexi(p) === lexi(full))
    assert(meta(p) === meta(full))
    // a batch retried AFTER the compact that folded it must still no-op
    // (the markers survive compaction)
    val before = spark.read.parquet(s"$p/postings").count()
    LexicalIndex.refresh(
      corpus.filter(col("doc_id") === 2), "doc_id", "text", p,
      batchId = "b2", compactAfterGenerations = 2)
    assert(spark.read.parquet(s"$p/postings").count() === before,
      "a post-compact retry of a folded batch must not re-append")
  }

  test("a count-triggered compact folds lexicon/meta WITHOUT rewriting the stored postings") {
    val p = "target/test_lexidx/foldskip"
    LexicalIndex.build(
      corpus.filter(col("doc_id") === 1), "doc_id", "text", p,
      n = 2, buckets = 4)
    Seq(2L, 4L).foreach { id =>
      LexicalIndex.refresh(
        corpus.filter(col("doc_id") === id), "doc_id", "text", p,
        batchId = s"b$id")
    }
    LexicalIndex.compact(spark, p)
    val snap = LsmLayout.snapshot(spark, p)
    // lexicon and meta folded into the new base (their generations grow
    // the read-side fold) ...
    assert(LexicalIndex.lexicon(spark, p)
      .groupBy("shingle").count().filter(col("count") > 1).count() === 0L)
    assert(spark.read.parquet(s"$p/meta")
      .filter(col("gen") === snap.base).count() === 1L)
    // ... but with no tombstones pending and the generation count under
    // the hygiene bound, the corpus-sized postings rewrite is SKIPPED:
    // the stored generation directories survive untouched and no new
    // postings base exists (the registry's ledger fold-skip discipline)
    assert(!new java.io.File(s"$p/postings/gen=${snap.base}").exists(),
      "a count-triggered compact must not rewrite the stored postings")
    Seq("base", "b2", "b4").foreach(g =>
      assert(new java.io.File(s"$p/postings/gen=$g").exists(),
        s"the stored postings generation $g must survive a fold-skip"))
    // logical relations and the served answer still equal the rebuild
    val full = "target/test_lexidx/foldskip_full"
    LexicalIndex.build(corpus.filter(col("doc_id") =!= 3),
      "doc_id", "text", full, n = 2, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(LexicalIndex.lexicalTopK(spark, p, 1L, 10)) ===
      rows(LexicalIndex.lexicalTopK(spark, full, 1L, 10)))
    def posts(q: String) = LexicalIndex.postings(spark, q)
      .select("doc_id", "ns", "dl", "shingle", "tf", "bucket")
      .collect().map(_.toSeq).toSet
    assert(posts(p) === posts(full))
    // a pending tombstone forces the physical fold on the NEXT compact
    // (the GDPR contract is untouched by the skip)
    LexicalIndex.tombstone(
      corpus.filter(col("doc_id") === 4), "doc_id", "text", p,
      batchId = "d1")
    LexicalIndex.compact(spark, p)
    val snap2 = LsmLayout.snapshot(spark, p)
    assert(new java.io.File(s"$p/postings/gen=${snap2.base}").exists(),
      "a tombstone-triggered compact must rewrite the postings")
    assert(spark.read.parquet(s"$p/postings")
      .filter(col("gen") === snap2.base && col("doc_id") === 4)
      .count() === 0L,
      "the fold must drop the tombstoned postings from the new base")
  }

  test("tombstoned serving answers match the rebuilt index's answers") {
    val del = "target/test_lexidx/forget_serve"
    val rem = "target/test_lexidx/remain_serve"
    LexicalIndex.build(corpus, "doc_id", "text", del, n = 2, buckets = 4)
    LexicalIndex.tombstone(
      corpus.filter(col("doc_id") === 2), "doc_id", "text", del,
      batchId = "d1")
    LexicalIndex.build(
      corpus.filter(col("doc_id") =!= 2), "doc_id", "text", rem,
      n = 2, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(LexicalIndex.moreLikeThis(spark, del, 1L, 10)) ===
      rows(LexicalIndex.moreLikeThis(spark, rem, 1L, 10)))
    assert(rows(LexicalIndex.lexicalTopK(spark, del, 1L, 10)) ===
      rows(LexicalIndex.lexicalTopK(spark, rem, 1L, 10)))
    assert(rows(LexicalIndex.bm25TopK(spark, del, 1L, 10)) ===
      rows(LexicalIndex.bm25TopK(spark, rem, 1L, 10)))
    assert(rows(LexicalIndex.pointProbe(spark, del, "a b x", 10)) ===
      rows(LexicalIndex.pointProbe(spark, rem, "a b x", 10)))
  }

  test("a build over an older tree with a stored lexicon/ removes it and serves like a fresh build") {
    val old = "target/test_lexidx/old_format"
    val fresh = "target/test_lexidx/old_format_fresh"
    LexicalIndex.build(corpus, "doc_id", "text", old, n = 2, buckets = 4)
    LexicalIndex.refresh(
      Seq((5L, "a b q")).toDF("doc_id", "text"), "doc_id", "text", old,
      batchId = "b1")
    // the older layout's df relation: a base and a refresh generation
    LexicalIndex.lexicon(spark, old)
      .withColumn("gen", lit("base"))
      .write.partitionBy("gen", "bucket").parquet(s"$old/lexicon")
    Seq(("a b", 1L, 0L, "b1")).toDF("shingle", "df", "bucket", "gen")
      .write.mode("append").partitionBy("gen", "bucket")
      .parquet(s"$old/lexicon")
    assert(new java.io.File(s"$old/lexicon/gen=b1").exists())
    LexicalIndex.build(corpus, "doc_id", "text", old, n = 2, buckets = 4)
    LexicalIndex.build(corpus, "doc_id", "text", fresh, n = 2, buckets = 4)
    assert(!new java.io.File(s"$old/lexicon").exists(),
      "the rebuild must remove the older layout's lexicon/")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(LexicalIndex.moreLikeThis(spark, old, 1L, 10)) ===
      rows(LexicalIndex.moreLikeThis(spark, fresh, 1L, 10)))
    assert(rows(LexicalIndex.lexicalTopK(spark, old, 1L, 10)) ===
      rows(LexicalIndex.lexicalTopK(spark, fresh, 1L, 10)))
    assert(rows(LexicalIndex.bm25TopK(spark, old, 1L, 10)) ===
      rows(LexicalIndex.bm25TopK(spark, fresh, 1L, 10)))
    assert(rows(LexicalIndex.pointProbe(spark, old, "a b c a b", 10)) ===
      rows(LexicalIndex.pointProbe(spark, fresh, "a b c a b", 10)))
  }

  /** Every lexical read that must answer empty (not throw) when the
    * layout holds no live postings generation. */
  private def assertEmptyServing(p: String): Unit = {
    assert(LexicalIndex.postings(spark, p).collect().isEmpty)
    assert(LexicalIndex.lexicon(spark, p).collect().isEmpty)
    assert(LexicalIndex.stats(spark, p).collect().isEmpty)
    assert(LexicalIndex.pointProbe(spark, p, "a b c", k = 5).collect().isEmpty)
    assert(LexicalIndex.lexicalTopK(spark, p, 1L, 5).collect().isEmpty)
  }

  test("a build over docs all shorter than the shingle width serves empty answers") {
    val p = "target/test_lexidx/all_short"
    LexicalIndex.build(Seq((1L, "zz"), (2L, "y")).toDF("doc_id", "text"),
      "doc_id", "text", p, n = 2, buckets = 4)
    assert(LsmLayout.snapshot(spark, p).liveIn(s"$p/postings").isEmpty &&
      !Option(new java.io.File(s"$p/postings").list()).exists(
        _.exists(_.startsWith("gen="))),
      "no postings generation is written")
    assertEmptyServing(p)
    assert(LexicalIndex.metaRow(spark, p).select("n_docs").head().getLong(0) === 2L)
    // the first refresh with postings makes it servable
    LexicalIndex.refresh(Seq((3L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", p, batchId = "b1")
    assert(LexicalIndex.pointProbe(spark, p, "a b c", k = 5)
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("a compact after every doc was forgotten serves empty answers") {
    val p = "target/test_lexidx/all_forgotten"
    LexicalIndex.build(corpus, "doc_id", "text", p, n = 2, buckets = 4)
    LexicalIndex.tombstone(corpus, "doc_id", "text", p, batchId = "d1")
    assertEmptyServing(p)
    LexicalIndex.compact(spark, p)
    val live = LsmLayout.snapshot(spark, p).liveIn(s"$p/postings")
    assert(live.isEmpty, "the fold of an all-forgotten corpus writes no postings")
    assertEmptyServing(p)
    assert(LexicalIndex.metaRow(spark, p).select("n_docs").head().getLong(0) === 0L)
  }
}
