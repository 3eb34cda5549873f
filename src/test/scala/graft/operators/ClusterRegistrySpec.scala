package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Incremental cluster maintenance: merge-by-bridge, id stability,
  * retry idempotency, and the no-pair batch. The n177 oracle gates
  * build∘ingest ≡ batch closure end-to-end; these pin the mechanics
  * on a hand-computed fixture. */
class ClusterRegistrySpec extends SparkTestBase {
  import spark.implicits._

  private def run(lo: Int, hi: Int, extra: String = ""): String =
    ((lo to hi).map(i => s"b$i").mkString(" ") +
      (if (extra.nonEmpty) " " + extra else "")).trim

  // corpus: docs 1,2 near-dups (J = 16/20 = 0.8), doc 3 a shifted run
  // below threshold vs both, doc 4 unrelated
  private def corpus = Seq(
    (1L, run(1, 20)),
    (2L, run(3, 22)),
    (3L, run(6, 25)),
    (4L, (1 to 20).map(i => s"z$i").mkString(" ")))
    .toDF("doc_id", "text")

  // delta doc 10 sits BETWEEN clusters {1,2} and {3}: J(10,2) =
  // J(10,3) = 17/20 = 0.85 — the bridge that must merge them
  private def delta = Seq((10L, run(4, 24))).toDF("doc_id", "text")

  private def assigned(p: String) =
    ClusterRegistry.assignments(spark, p)
      .as[(Long, Long)].collect().toMap

  test("hand fixture: the exact Jaccards are what the comment claims") {
    def sh(t: String) = LexicalIndex.literalShingles(t, 3).toSet
    def j(a: String, b: String) = {
      val (x, y) = (sh(a), sh(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    assert(j(run(1, 20), run(3, 22)) === 16.0 / 20.0)
    assert(j(run(3, 22), run(6, 25)) < 0.8)
    assert(j(run(1, 20), run(6, 25)) < 0.8)
    assert(j(run(4, 24), run(3, 22)) === 17.0 / 20.0)
    assert(j(run(4, 24), run(6, 25)) === 17.0 / 20.0)
    assert(j(run(4, 24), run(1, 20)) < 0.8)
  }

  test("build clusters the corpus; a bridging ingest merges with the min id; singletons persist") {
    val p = "target/test_clusterreg/merge"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    assert(assigned(p) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    // doc 10 bridges {1,2} (id 1) and {3}: everything merges to 1;
    // the absorbed cluster's member (doc 3) was RE-MAPPED by append
    assert(assigned(p) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L))
    // ≡ a from-scratch build over the union corpus
    val full = "target/test_clusterreg/full"
    ClusterRegistry.build(
      corpus.unionByName(delta), "doc_id", "text", full, threshold = 0.8)
    assert(assigned(p) === assigned(full))
  }

  test("ingest is idempotent under clean retry and marker-less replay") {
    val p = "target/test_clusterreg/retry"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    val want = assigned(p)
    val phys = spark.read.parquet(s"$p/assignments").count()
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) === want)
    assert(spark.read.parquet(s"$p/assignments").count() === phys)
    LsmLayout.dropCommit(spark, p, "b1")
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) === want,
      "a replayed ingest must reproduce the same assignment")
    assert(spark.read.parquet(s"$p/assignments").count() === phys,
      "a replayed ingest must replace its generation, not append")
  }

  test("forget removes the doc from every serving path; ids stay stable; canonical renames") {
    val p = "target/test_clusterreg/forget"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    // forget doc 1 — the MIN member of cluster {1, 2}
    ClusterRegistry.forget(Seq(1L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    // the raw id is a stable token: doc 2 KEEPS cluster_id 1 even
    // though doc 1 is gone (downstream joins key on it)
    assert(assigned(p) === Map(2L -> 1L, 3L -> 3L, 4L -> 4L))
    // the canonical view names clusters by their min SURVIVING member
    val canon = ClusterRegistry.canonicalAssignments(spark, p)
      .as[(Long, Long)].collect().toMap
    assert(canon === Map(2L -> 2L, 3L -> 3L, 4L -> 4L))
    // the probe side forgot too: a new doc that near-dups ONLY the
    // forgotten doc 1 (J(1,2)=0.8 means a copy of doc 1's text also
    // hits doc 2 — use doc 4's unrelated run instead) lands a singleton
    ClusterRegistry.forget(Seq(4L).toDF("doc_id"), "doc_id", p,
      batchId = "d2")
    val like4 = Seq((30L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(like4, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) === Map(2L -> 1L, 3L -> 3L, 30L -> 30L),
      "an exact copy of a forgotten doc must not pair with it")
  }

  test("bridge divergence pin: forgetting a bridge does NOT re-split the merged cluster") {
    val p = "target/test_clusterreg/bridge"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1") // doc 10 bridges {1,2} and {3} -> all cluster 1
    ClusterRegistry.forget(Seq(10L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    // the DOCUMENTED divergence from rebuild-on-remaining: closure
    // evidence is monotone — the survivors stay one cluster even
    // though a from-scratch rebuild over {1,2,3,4} would split 3 off.
    // (The s52 oracle computes exactly this retained-topology answer.)
    assert(assigned(p) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    val rebuilt = "target/test_clusterreg/bridge_rebuilt"
    ClusterRegistry.build(corpus, "doc_id", "text", rebuilt,
      threshold = 0.8)
    assert(assigned(rebuilt)(3L) === 3L,
      "fixture must make the divergence real: rebuild splits doc 3 off")
  }

  test("compact drops forgotten docs physically (assignments AND band) and folds generations") {
    val p = "target/test_clusterreg/compact"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    ClusterRegistry.forget(Seq(2L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    val want = assigned(p)
    ClusterRegistry.compact(spark, p)
    assert(assigned(p) === want, "compact must not change the answer")
    // the LIVE layout dropped the forgotten doc: the snapshot's base
    // holds one row per doc and no doc-2 row; superseded generations
    // and the applied tombstone batch stay on disk ONE more cycle (a
    // concurrent reader may hold the previous snapshot), then the next
    // compact's GC sweeps them
    val snap = LsmLayout.snapshot(spark, s"$p")
    val live = spark.read.parquet(s"$p/assignments")
      .filter(col("batch") === snap.base)
    assert(live.filter(col("doc_id") === 2L).count() === 0L)
    assert(live.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).count() === 0L)
    assert(LsmLayout.liveGenerationCount(
      spark, p, s"$p/assignments") === 1)
    assert(snap.pendingTombstones.isEmpty)
    assert(BandIndex.postings(spark, s"$p/band")
      .filter(col("doc_id") === 2L).count() === 0L)
    ClusterRegistry.compact(spark, p)
    // second cycle: the forgotten doc's rows and the tombstone batch
    // are physically gone from every remaining dir (only the current
    // and previous base generations — both post-forget — survive)
    val raw = spark.read.parquet(s"$p/assignments")
    assert(raw.filter(col("doc_id") === 2L).count() === 0L)
    assert(!LsmLayout.dirExists(spark, s"$p/tombstones"))
    assert(spark.read.parquet(s"$p/band/postings")
      .filter(col("doc_id") === 2L).count() === 0L)
    assert(!LsmLayout.dirExists(spark, s"$p/band/tombstones"))
    // the ingest ordinal CONTINUES across the compacts (the monotone
    // contract): a post-compact ingest lands on the folded gen-0 base
    // with a gen above every generation ever committed
    val more = Seq((40L, (1 to 20).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(more, "doc_id", "text", p, batchId = "b2")
    assert(assigned(p) === want + (40L -> 40L))
  }

  test("auto-compaction fires mid-sequence inside ingest") {
    val p = "target/test_clusterreg/autocompact"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    def lone(id: Long, tag: String) =
      Seq((id, (1 to 20).map(i => s"$tag$i").mkString(" ")))
        .toDF("doc_id", "text")
    Seq((50L, "p"), (51L, "q"), (52L, "r")).zipWithIndex.foreach {
      case ((id, tag), i) =>
        ClusterRegistry.ingest(lone(id, tag), "doc_id", "text", p,
          batchId = s"b${i + 1}", compactAfterGenerations = 2)
    }
    // base+b1+b2 = 3 gens > 2 tripped the policy at b2 (fold to 1);
    // b3 lands on the folded base -> 2 LIVE generations after the loop
    assert(LsmLayout.liveGenerationCount(
      spark, p, s"$p/assignments") === 2,
      "auto-compaction did not fire mid-sequence")
    assert(assigned(p) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      50L -> 50L, 51L -> 51L, 52L -> 52L))
  }

  test("merge chains across batches: ids only ever decrease, to the true min") {
    val p = "target/test_clusterreg/chain"
    // start from {3} and {4-like} singletons plus {1,2}; then two
    // bridge batches merge the SAME growing cluster twice — the id
    // must decrease monotonically (3 -> 1) and every absorbed
    // cluster's members must be re-mapped each time
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    // batch 1: doc 10 bridges {1,2} and {3} -> all take id 1
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L))
    // batch 2: doc 11 duplicates doc 4's unrelated run AND a new doc 0
    // (smaller than every existing id) duplicates doc 1's text — the
    // growing cluster must re-min to 0, re-mapping ALL its members
    val b2 = Seq(
      (0L, run(1, 20)),
      (11L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(b2, "doc_id", "text", p, batchId = "b2")
    assert(assigned(p) === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 0L, 4L -> 4L, 11L -> 4L),
      "the chain must re-min the merged cluster and leave {4,11} alone")
  }

  test("forgetting a cluster's min member does not break later merges into it") {
    val p = "target/test_clusterreg/forgetmerge"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    ClusterRegistry.forget(Seq(1L).toDF("doc_id"), "doc_id", p,
      batchId = "d1") // cluster {2} keeps the stable id 1
    // doc 10 bridges the (now min-less) cluster 1 and cluster {3}:
    // the merge still lands on the RETAINED id 1 (min of the ids ever
    // seen), and the forgotten doc is not resurrected
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) === Map(2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L))
    val canon = ClusterRegistry.canonicalAssignments(spark, p)
      .as[(Long, Long)].collect().toMap
    assert(canon === Map(2L -> 2L, 3L -> 2L, 4L -> 4L, 10L -> 2L),
      "the canonical view renames to the min SURVIVING member")
  }

  test("asOf pins the cluster state after a given ingest; tombstones reach snapshots") {
    val p = "target/test_clusterreg/asof"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    val lone = Seq((20L, (1 to 20).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(lone, "doc_id", "text", p,
      batchId = "b1") // gen 1: singleton 20
    ClusterRegistry.ingest(delta, "doc_id", "text", p, batchId = "b2") // gen 2: doc 10 merges {1,2}+{3}
    def asOf(g: Long) = ClusterRegistry.assignments(spark, p, Some(g))
      .as[(Long, Long)].collect().toMap
    assert(asOf(0L) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L),
      "gen 0 pins the build state")
    assert(asOf(1L) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 20L -> 20L),
      "gen 1 must not see b2's merge")
    assert(asOf(2L) === assigned(p))
    // a GDPR delete reaches pinned reads too (the KMV s43 rule)
    ClusterRegistry.forget(Seq(3L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    assert(asOf(1L) ===
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 20L -> 20L))
  }

  test("empty micro-batches are safe no-ops (foreachBatch delivers them)") {
    val p = "target/test_clusterreg/empty"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    val before = assigned(p)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    ClusterRegistry.ingest(empty, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) === before)
    // and the NEXT real batch still derives a sane generation and works
    ClusterRegistry.ingest(delta, "doc_id", "text", p,
      batchId = "b2")
    assert(assigned(p) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L))
  }

  test("the layout-owned ledger: builds seed it, ingests extend it, GDPR reaches the stored text") {
    val p = "target/test_clusterreg/ledger"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    def led() = ClusterRegistry.ledger(spark, p)
      .as[(Long, String)].collect().toMap
    assert(led().keySet === Set(1L, 2L, 3L, 4L),
      "the build must seed the ledger with the build set")
    // the delta-only ingest merges THROUGH stored text: doc 10 bridges
    // {1,2} and {3}, whose candidate text can only come from the ledger
    ClusterRegistry.ingest(delta, "doc_id", "text", p, batchId = "b1")
    assert(assigned(p) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L),
      "candidate verification must rehydrate from the stored ledger")
    assert(led().keySet === Set(1L, 2L, 3L, 4L, 10L),
      "the ingest must append the delta's text")
    assert(led()(10L) === run(4, 24))
    // a forget hides the text from every read immediately ...
    ClusterRegistry.forget(Seq(1L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    assert(!led().contains(1L), "a forgotten doc's text must hide at once")
    // ... and two compact cycles remove it physically (fold, then the
    // one-cycle-deferred GC of the superseded generations)
    ClusterRegistry.compact(spark, p)
    ClusterRegistry.compact(spark, p)
    assert(spark.read.parquet(s"$p/ledger")
      .filter(col("doc_id") === 1L).count() === 0L,
      "GDPR must reach the stored ledger text physically")
    assert(led().keySet === Set(2L, 3L, 4L, 10L))
    // post-compact, the folded ledger still feeds the next merge
    val dup3 = Seq((40L, run(6, 25))).toDF("doc_id", "text")
    ClusterRegistry.ingest(dup3, "doc_id", "text", p, batchId = "b2")
    assert(assigned(p)(40L) === 1L,
      "a post-compact ingest must still verify against the folded ledger")
  }

  test("rehydration pruning: the verify's ledger scan is dynamically pruned to candidate buckets") {
    val p = "target/test_clusterreg/dpp"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    val led = ClusterRegistry.ledgerBucketed(spark, p)
      .select(col("doc_id"), col("text"),
        col("bucket").as("graft__lbucket"))
    def probe(bucketed: Boolean) = BandIndex.probe(
      led, delta, "doc_id", "text", s"$p/band", threshold = 0.8,
      corpusBucket =
        if (bucketed) Some(("graft__lbucket",
          (id: org.apache.spark.sql.Column) =>
            ClusterRegistry.ledgerBucket(id, 16)))
        else None)
    // same answer with and without the bucket condition (the bucket is
    // a pure function of the id, so the extra equi-condition can never
    // drop a true candidate)
    val want = probe(bucketed = false)
      .as[(Long, Long, Double)].collect().toSet
    val got = probe(bucketed = true)
    assert(got.as[(Long, Long, Double)].collect().toSet === want)
    assert(want.nonEmpty, "fixture must produce at least one pair")
    // the plan pin: the ledger TEXT scan carries a dynamic partition
    // pruning filter — the rehydration reads candidate buckets, never
    // the whole corpus (scans hide below AQE stages; recurse)
    def scansOf(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      pl.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(qs.plan)
      }.flatten
    val ledgerScans = scansOf(got.queryExecution.executedPlan)
      .filter(s => s.metadata("Location").contains("/ledger") &&
        s.metadata("ReadSchema").contains("text"))
    assert(ledgerScans.nonEmpty, "the verify must scan the ledger text")
    ledgerScans.foreach(s =>
      assert(s.metadata("PartitionFilters").contains("dynamicpruning"),
        "the ledger text scan must be dynamically pruned to candidate " +
          s"buckets: ${s.metadata("PartitionFilters")}"))
  }

  test("a batch with no near-dups assigns singletons and leaves everything else alone") {
    val p = "target/test_clusterreg/nopairs"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    val before = assigned(p)
    val lone = Seq((20L, (1 to 20).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(lone, "doc_id", "text", p,
      batchId = "b1")
    assert(assigned(p) === before + (20L -> 20L))
    // and a SECOND batch duplicating the first batch's doc pairs into
    // the now-appended band generation (stable id = 20, the min)
    val dup20 = Seq((21L, (1 to 20).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    ClusterRegistry.ingest(dup20, "doc_id", "text", p, batchId = "b2")
    assert(assigned(p) === before + (20L -> 20L) + (21L -> 20L),
      "the second batch must find the first batch's doc through the appended index")
  }

  test("a count-triggered compact folds assignments WITHOUT rewriting the stored ledger") {
    val p = "target/test_clusterreg/ledgerskip"
    ClusterRegistry.build(corpus, "doc_id", "text", p, threshold = 0.8)
    ClusterRegistry.ingest(delta, "doc_id", "text", p, batchId = "b1")
    def led() = ClusterRegistry.ledger(spark, p)
      .as[(Long, String)].collect().toMap
    val wantLedger = led()
    val wantAssign = assigned(p)
    // no tombstones pending: the compact folds the (small) assignment
    // log but must NOT rewrite the corpus text — at 100 TB that skip
    // is the difference between an assignment-sized maintenance op
    // and a full-corpus pass on every generation-count policy trip
    ClusterRegistry.compact(spark, p)
    val snap = LsmLayout.snapshot(spark, p)
    assert(LsmLayout.liveGenerationCount(
      spark, p, s"$p/assignments") === 1,
      "the assignment log must fold to one live generation")
    assert(!LsmLayout.dirExists(spark, s"$p/ledger/batch=${snap.base}"),
      "a no-tombstone compact must not write a folded ledger copy")
    assert(snap.liveIn(s"$p/ledger").toSet === Set("base", "b1"),
      "the ledger keeps its immutable generations live")
    assert(led() === wantLedger, "ledger reads must be unchanged")
    assert(assigned(p) === wantAssign)
    // a post-skip ingest still merges through the multi-generation
    // ledger (doc 40 duplicates doc 3's run, stored under batch=base)
    val dup3 = Seq((40L, run(6, 25))).toDF("doc_id", "text")
    ClusterRegistry.ingest(dup3, "doc_id", "text", p, batchId = "b2")
    assert(assigned(p)(40L) === assigned(p)(3L))
    // and a forget STILL reaches the stored text physically: pending
    // tombstones force the fold (fold cycle + the one-cycle-deferred GC)
    ClusterRegistry.forget(Seq(2L).toDF("doc_id"), "doc_id", p,
      batchId = "d1")
    ClusterRegistry.compact(spark, p)
    ClusterRegistry.compact(spark, p)
    assert(spark.read.parquet(s"$p/ledger")
      .filter(col("doc_id") === 2L).count() === 0L,
      "GDPR must reach the stored ledger text through a skip history")
    assert(led().keySet === wantLedger.keySet + 40L - 2L)
  }

  test("shared band: an ingest that bypassed the coordinator fails the next ingest, naming the batch") {
    val root = "target/test_clusterreg/sharedband"
    val (reg, band) = (s"$root/registry", s"$root/band")
    ClusterRegistry.build(corpus, "doc_id", "text", reg, threshold = 0.8,
      sharedBand = Some(band))
    BandIndex.build(corpus, "doc_id", "text", band)
    assert(!LsmLayout.dirExists(spark, s"$reg/band"),
      "a shared-band registry keeps no private band")
    assert(ClusterRegistry.sharedBand(spark, reg) === Some(band))
    // the registry alone probes the shared band (doc 10 still bridges
    // {1,2} and {3}) but leaves the band without the batch
    ClusterRegistry.ingest(delta, "doc_id", "text", reg, batchId = "b1")
    assert(assigned(reg) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 10L -> 1L))
    assert(!LsmLayout.snapshot(spark, band).isApplied("b1"))
    assert(BandIndex.signatures(spark, band)
      .filter(col("doc_id") === 10L).count() === 0L)
    val more = Seq((40L, (1 to 20).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[IllegalStateException](
      ClusterRegistry.ingest(more, "doc_id", "text", reg, batchId = "b2"))
    assert(e.getMessage.contains("b1"), e.getMessage)
    assert(!LsmLayout.snapshot(spark, reg).isApplied("b2"))
    // delivering the batch to the band clears the check
    BandIndex.append(delta, "doc_id", "text", band, batchId = "b1")
    ClusterRegistry.ingest(more, "doc_id", "text", reg, batchId = "b2")
    assert(assigned(reg)(40L) === 40L)
    // the meta names the band relative to the registry's parent: a
    // copied tree probes its own band
    val moved = "target/test_clusterreg/sharedband_moved"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(moved))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(moved))
    assert(ClusterRegistry.sharedBand(spark, s"$moved/registry") ===
      Some(s"$moved/band"))
  }
}
