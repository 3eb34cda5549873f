package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Snapshot-atomic compaction: a reader that overlaps a compact must
  * see exactly the pre- or the post-compact answer — never an error
  * (vanished files) and never a mix (a half-rewritten base, or one
  * relation of a layout folded beside another un-folded). The
  * mechanism under test: compacts write a NEW immutable base
  * generation, commit one fail-if-exists record, and defer deletion of
  * superseded directories by one compact cycle
  * ([[LsmLayout.snapshot]]/[[LsmLayout.snapshotCompact]]).
  *
  * The reader threads here hammer the serving paths of the registry,
  * the band index and the lexical index while the main thread runs
  * repeated compact cycles (each cycle flips a manifest AND GC-sweeps
  * the previous cycle's directories — the exact window where the old
  * in-place rewrite corrupted or crashed readers). Every read must
  * return the one committed answer; compaction is answer-invariant, so
  * pre == post and any deviation is a torn read.
  */
class SnapshotCompactSpec extends SparkTestBase {
  import spark.implicits._

  private def run(lo: Int, hi: Int): String =
    (lo to hi).map(i => s"b$i").mkString(" ")

  private def docs(n: Int) = (1 to n).map { i =>
    // clusters of 2: docs 2k-1 and 2k are near-dups; enough rows that
    // a compact takes several Spark jobs while readers overlap it
    (i.toLong, run(5 * ((i + 1) / 2), 5 * ((i + 1) / 2) + 19))
  }.toDF("doc_id", "text")

  /** Drive `reads` continuously on `readers` threads while `cycles`
    * compact cycles run. The GC contract is "a reader is safe while it
    * holds the current or the previous snapshot" — so between cycles
    * the driver waits until EVERY thread has completed two more reads
    * (the second necessarily STARTED after the compact finished, i.e.
    * resolved the new snapshot); that is exactly the pacing a
    * production maintenance loop gets for free from compaction being
    * orders of magnitude rarer than queries. Returns the error queue. */
  private def hammer(
      readers: Int, cycles: Int)(read: () => Unit)(compactOnce: () => Unit)
      : Seq[Throwable] = {
    val stop = new AtomicBoolean(false)
    val reads = (1 to readers).map(_ => new AtomicLong(0L))
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = reads.map { counter =>
      val t = new Thread(() => {
        while (!stop.get()) {
          try { read(); counter.incrementAndGet() }
          catch { case e: Throwable => errors.add(e); stop.set(true) }
        }
      })
      t.start(); t
    }
    try {
      (1 to cycles).foreach { _ =>
        val marks = reads.map(_.get())
        compactOnce()
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (reads.zip(marks).exists { case (c, m) => c.get() < m + 2 } &&
          !stop.get() && System.nanoTime() < deadline) Thread.sleep(20)
      }
    } finally {
      stop.set(true)
      threads.foreach(_.join(120000))
    }
    assert(reads.map(_.get()).sum > 0, "the reader loop never completed a read")
    errors.toArray(Array.empty[Throwable]).toSeq
  }

  test("registry: continuous reads through repeated compact+GC cycles see exactly the committed answer") {
    val p = "target/test_snapcompact/registry"
    val d = docs(60)
    ClusterRegistry.build(
      d.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    ClusterRegistry.ingest(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", p,
      batchId = "b1")
    ClusterRegistry.forget(
      Seq(4L, 8L).toDF("doc_id"), "doc_id", p, batchId = "d1")
    val want = ClusterRegistry.assignments(spark, p)
      .as[(Long, Long)].collect().toMap
    val errs = hammer(readers = 2, cycles = 3) { () =>
      val got = ClusterRegistry.assignments(spark, p)
        .as[(Long, Long)].collect().toMap
      assert(got === want, "a torn read: neither pre- nor post-compact")
    } { () => ClusterRegistry.compact(spark, p) }
    assert(errs.isEmpty, s"reads failed during compact: ${errs.headOption}")
  }

  test("band index: point probes through repeated compact+GC cycles never tear") {
    val p = "target/test_snapcompact/band"
    val d = docs(60)
    BandIndex.build(d, "doc_id", "text", p)
    BandIndex.tombstone(Seq(2L).toDF("doc_id"), "doc_id", p, batchId = "d1")
    val queryText = run(5, 24) // near-dups: docs 1 and 2 (2 forgotten)
    val want = BandIndex
      .pointProbe(d, "doc_id", "text", p, queryText, 0.8)
      .as[(Long, Double)].collect().toSeq
    assert(want.map(_._1) === Seq(1L),
      "fixture: doc 1 matches, forgotten doc 2 must not")
    val errs = hammer(readers = 2, cycles = 3) { () =>
      val got = BandIndex
        .pointProbe(d, "doc_id", "text", p, queryText, 0.8)
        .as[(Long, Double)].collect().toSeq
      assert(got === want, "a torn probe: neither pre- nor post-compact")
    } { () => BandIndex.compact(spark, p) }
    assert(errs.isEmpty, s"probes failed during compact: ${errs.headOption}")
  }

  test("lexical index: probes through repeated compact+GC cycles never mix folded and un-folded relations") {
    val p = "target/test_snapcompact/lex"
    val d = docs(60)
    LexicalIndex.build(
      d.filter(col("doc_id") <= 40), "doc_id", "text", p, n = 2)
    LexicalIndex.refresh(
      d.filter(col("doc_id") > 40), "doc_id", "text", p, batchId = "b1")
    LexicalIndex.tombstone(
      d.filter(col("doc_id") === 7L), "doc_id", "text", p, batchId = "d1")
    val queryText = run(10, 29)
    val want = LexicalIndex.pointProbe(spark, p, queryText, k = 5)
      .as[(Long, Long)].collect().toSeq
    val errs = hammer(readers = 2, cycles = 3) { () =>
      val got = LexicalIndex.pointProbe(spark, p, queryText, k = 5)
        .as[(Long, Long)].collect().toSeq
      // an un-folded lexicon beside a folded meta would skew every idf
      // weight — the score column makes that visible, not just the ids
      assert(got === want, "a torn probe: neither pre- nor post-compact")
    } { () => LexicalIndex.compact(spark, p) }
    assert(errs.isEmpty, s"probes failed during compact: ${errs.headOption}")
  }

  test("commit records: one per operation, one-cycle GC retention") {
    val p = "target/test_snapcompact/manifest"
    val d = docs(8)
    ClusterRegistry.build(d, "doc_id", "text", p)
    // the build commits record 0: its base generations, no batch applied
    val b = LsmLayout.snapshot(spark, p)
    assert(b.id === 0L && b.base === "base" && b.applied.isEmpty &&
      b.ordinal === 0L && b.liveIn(s"$p/assignments") === Seq("base"))
    assert(b.constant("ledger_buckets") === "16")
    ClusterRegistry.ingest(
      Seq((100L, run(500, 519))).toDF("doc_id", "text"),
      "doc_id", "text", p, batchId = "b1")
    val i = LsmLayout.snapshot(spark, p)
    assert(i.id === 1L && i.isApplied("b1") && i.ordinal === 1L &&
      i.liveIn(s"$p/assignments") === Seq("base", "b1"))
    ClusterRegistry.compact(spark, p)
    val s0 = LsmLayout.snapshot(spark, p)
    assert(s0.id === 2L && s0.base === "base-2" && s0.isApplied("b1") &&
      s0.ordinal === 1L && s0.liveIn(s"$p/assignments") === Seq("base-2") &&
      s0.retired("assignments").toSet === Set("base", "b1"))
    // first cycle RETAINS the previous snapshot's dirs (a concurrent
    // reader may hold it) ...
    assert(LsmLayout.dirExists(spark, s"$p/assignments/batch=base"))
    assert(LsmLayout.dirExists(spark, s"$p/assignments/batch=b1"))
    ClusterRegistry.compact(spark, p)
    // ... and the second cycle's GC sweeps them
    assert(!LsmLayout.dirExists(spark, s"$p/assignments/batch=base"))
    assert(!LsmLayout.dirExists(spark, s"$p/assignments/batch=b1"))
    assert(LsmLayout.dirExists(spark, s"$p/assignments/batch=base-2"))
    assert(LsmLayout.dirExists(spark, s"$p/assignments/batch=base-3"))
    // the records older than the previous compact's are gone with them
    assert(new java.io.File(s"$p/_snap").list().filterNot(_.startsWith("."))
      .toSet === Set("2", "3"))
    // the flip is fail-if-exists: re-committing an id is a loud error
    intercept[java.io.IOException] {
      LsmLayout.commitSnapshot(spark, p, LsmLayout.snapshot(spark, p))
    }
    // base-named batch ids are reserved for the snapshot namespace
    intercept[IllegalArgumentException] {
      LsmLayout.requireValidBatchId("base-7")
    }
  }

  test("writer epochs are mutually exclusive: a pre-existing marker forces the next number") {
    val p = "target/test_snapcompact/epoch"
    val e1 = LsmLayout.acquireWriterEpoch(spark, p)
    // simulate the race: the "other driver" already holds e1+1
    val marker = new org.apache.hadoop.fs.Path(s"$p/_writer/${e1 + 1}")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .create(marker, false).close()
    val e2 = LsmLayout.acquireWriterEpoch(spark, p)
    assert(e2 === e1 + 2,
      "a collision must re-list and take the NEXT number, never share")
  }

  test("a superseded writer's compact is fenced before the flip and the GC") {
    val p = "target/test_snapcompact/fencedcompact"
    val d = docs(8)
    ClusterRegistry.build(d, "doc_id", "text", p)
    ClusterRegistry.forget(Seq(2L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    val stale = LsmLayout.acquireWriterEpoch(spark, p)
    LsmLayout.acquireWriterEpoch(spark, p) // the replacement owner
    intercept[IllegalStateException] {
      ClusterRegistry.compact(spark, p, writerEpoch = Some(stale))
    }
    // the fenced compact must not have committed a record — the
    // pending GDPR tombstone is still live for the real owner
    assert(LsmLayout.snapshot(spark, p).id === 1L)
    assert(LsmLayout.snapshot(spark, p).pendingTombstones === Seq("d1"))
  }

  test("over-budget overlays and forget-sets fall back to a shuffle join with identical answers") {
    val p = "target/test_snapcompact/budget"
    val d = docs(40)
    ClusterRegistry.build(
      d.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    ClusterRegistry.ingest(
      d.filter(col("doc_id") % 2 === 0), "doc_id", "text", p,
      batchId = "b1")
    ClusterRegistry.forget(Seq(6L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    val want = ClusterRegistry.assignments(spark, p)
      .as[(Long, Long)].collect().toMap
    // within budget (the default): the read FORCES the broadcasts
    val hinted = ClusterRegistry.assignments(spark, p)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "an in-budget read must carry the broadcast hints")
    val key = "graft.broadcast.budget.bytes"
    sys.props(key) = "1" // every maintenance relation is over budget
    try {
      val df = ClusterRegistry.assignments(spark, p)
      // the guard genuinely dropped the FORCED broadcast hints — what
      // remains is AQE's own (budgeted, spill-safe) strategy choice
      assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
        "an over-budget read must not force broadcasts")
      val got = df.as[(Long, Long)].collect().toMap
      assert(got === want, "the fallback join must answer identically")
    } finally sys.props.remove(key)
    assert(ClusterRegistry.assignments(spark, p)
      .as[(Long, Long)].collect().toMap === want)
  }

  test("over-budget forget-set DEDUP (the write path) falls back and still converges") {
    val p = "target/test_snapcompact/budget_forget"
    val d = docs(40)
    BandIndex.build(d, "doc_id", "text", p)
    BandIndex.tombstone(Seq(4L, 6L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    val key = "graft.broadcast.budget.bytes"
    sys.props(key) = "1" // the pending-set dedup join is over budget
    try BandIndex.tombstone(Seq(6L, 8L).toDF("doc_id"), "doc_id", p,
      batchId = "d2")
    finally sys.props.remove(key)
    // the overlapping id deduped exactly as the broadcast path would:
    // one tombstone row per id, and serving excludes all three
    val ts = spark.read.parquet(s"$p/tombstones")
      .groupBy(col("doc_id")).count()
      .as[(Long, Long)].collect().toMap
    assert(ts === Map(4L -> 1L, 6L -> 1L, 8L -> 1L),
      s"shuffle-path dedup diverged from the broadcast path: $ts")
    val served = BandIndex.signatures(spark, p)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(Seq(4L, 6L, 8L).forall(!served.contains(_)))
    assert(served.size === 37)
  }
}
