package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{SparkEntry, SparkTestBase}

/** Physical-plan shape assertions for the scale-critical registered
  * queries: a query can be value-correct with the wrong plan (e.g. a
  * shuffle join where a broadcast belongs, or a global sort where
  * TakeOrdered belongs) and only regress at real scale — these tests
  * pin the plan, not just the rows.
  */
class QueryPlansSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Execute and return the FINAL adaptive plan string (AQE only
    * commits join strategies at runtime, so inspect after the action).
    * The action must be collect(), NOT a write: DataFrameWriter wraps
    * the logical plan in its OWN QueryExecution, so after a write
    * `df.queryExecution` is still un-executed and its adaptive plan
    * would be the static initial one.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan
    val fin = p.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }
    fin.getOrElse(p).toString
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Every file scan in an EXECUTED plan — scans hide below AQE
    * query-stage leaves, so recurse through them. */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
    }.flatten

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally spark.catalog.clearCache()

  test("n32 stratified sample: rate dim joins as broadcast, filter at scan") {
    val plan = finalPlan(q("n32_stratified_sample"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("n34 length outliers: per-group moments join back as broadcast") {
    val plan = finalPlan(q("n34_length_outliers"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("n33 corpus top-k n-grams: TakeOrdered, not a global sort") {
    val plan = finalPlan(q("n33_ngram_topk"))
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
  }

  test("n31 tf-idf: corpus total rides in as a broadcast, never a shuffle") {
    val plan = finalPlan(q("n31_tfidf_topk"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row total should be a broadcast cross join:\n$plan")
  }

  test("s1 scan: filter and projection reach the parquet reader") {
    val df = q("s1_scan_project")
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.metadata("PushedFilters") != "[]",
      s"no pushed filters: ${scan.metadata("PushedFilters")}")
    // projection pruned to the queried columns, not the full table
    assert(scan.schema.fieldNames.length <= 4,
      s"scan reads too many columns: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("n24 hash sample: the md5-residue filter is partition-local (no shuffle)") {
    val plan = finalPlan(q("n24_hash_sample"))
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("n36 decontamination: benchmark shingles broadcast, corpus side never shuffle-joins") {
    val plan = finalPlan(q("n36_contamination"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side must not shuffle-join:\n$plan")
  }

  test("n38 sequence packing: sharded window, exactly one exchange") {
    val plan = finalPlan(q("n38_sequence_pack"))
    val exchanges = "Exchange".r.findAllIn(plan).length -
      "AQEShuffleRead".r.findAllIn(plan).length // reader nodes reuse the word
    assert(plan.contains("Window"), s"no window:\n$plan")
    assert(exchanges <= 2, s"packing should shuffle once (by shard):\n$plan")
  }

  test("w5 window pack: all six functions share ONE Window node and one sort") {
    val plan = finalPlan(q("w5_window_funcs"))
    assert("Window ".r.findAllIn(plan).length == 1,
      s"functions with one window spec must share one Window node:\n$plan")
    assert("\\bSort\\b".r.findAllIn(plan).length <= 1,
      s"one partitioned sort expected:\n$plan")
  }

  test("n43 partial-probe IVF: query side broadcast, TakeOrdered top-k") {
    val plan = finalPlan(q("n43_ann_ivf_probe"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row query must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
  }

  test("n45 chunking: a pure per-row generator — no exchange anywhere") {
    val plan = finalPlan(q("n45_chunk_split"))
    assert(plan.contains("Generate explode"), s"no generator:\n$plan")
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("n47 column profiler: every column's stats from ONE scan") {
    val plan = finalPlan(q("n47_column_profile"))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1,
      s"profiler must read the table once, found $scans scans:\n$plan")
  }

  test("n44 skew-proof distinct: two uniform shuffles, partials on both") {
    val plan = finalPlan(q("n44_skew_distinct"))
    // phase 1 shuffles on the COMPOSITE (flag, partkey) — uniform —
    // phase 2 on the tiny deduped key; both are preceded by map-side
    // partial HashAggregates that collapse hot keys before shipping
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"expected exactly the two agg shuffles:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(l_returnflag"),
      s"final phase must shuffle on the deduped key only:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"both phases need partial+final aggregates:\n$plan")
  }

  test("n48 collocations: margins from the bigram relation, total broadcast, top-50 as TakeOrdered") {
    val plan = finalPlan(q("n48_token_pmi"))
    // the raw token stream is aggregated once; the global bigram total
    // joins back as a broadcast 1-row relation, never a shuffle join,
    // and the top-50 cut must not global-sort
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"total must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrdered, not a global sort:\n$plan")
  }

  test("n50 incremental dedup: anti join ships md5 keys, never document text") {
    val plan = finalPlan(q("n50_incremental_dedup"))
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    // text must be consumed at the scan/project (md5) and never appear
    // as a join-side attribute — the joins carry 32-byte keys only
    val joinLines = plan.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joinLines.contains("text#"),
      s"document text reached a join:\n$joinLines")
  }

  test("n52 fluency: per-token probability lookup is one equi-join, no global sort") {
    val plan = finalPlan(q("n52_fluency_score"))
    assert(!plan.contains("SortMergeJoin") || !plan.contains("CartesianProduct"),
      s"unexpected join shape:\n$plan")
    // the final mean is a per-doc aggregate — nothing may globally sort
    assert(!plan.matches("(?s).*Sort \\[doc_id.*global=true.*"),
      s"unexpected global sort:\n$plan")
  }

  test("s18 scd2 merge: one join of the open slice plus a union, no window over history") {
    val plan = finalPlan(q("s18_scd2_merge"))
    assert(plan.contains("Union"), s"no union:\n$plan")
    assert(!plan.contains("Window"),
      s"scd2 must not window over key history (cost must track the batch):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"open-slice close join should broadcast at this scale:\n$plan")
  }

  test("n53 gopher filter: the whole gate is map-only — zero exchanges") {
    val plan = finalPlan(q("n53_gopher_filter"))
    assert(!plan.contains("Exchange"),
      s"the quality gate must not shuffle (mode count is a per-row fold):\n$plan")
  }

  test("n41 winnowing: fingerprint selection is map-only — no keyed shuffle") {
    // the only admissible exchange is Partitioning.spread's round-robin
    // (a small-input parallelism aid, a no-op on a real multi-split
    // scan); winnowing itself must never shuffle on a key
    val plan = finalPlan(q("n41_winnow_fingerprint"))
    assert(!plan.contains("hashpartitioning"),
      s"winnowing is per-document; selection must not key-shuffle:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Window"),
      s"selection must stay per-row expressions:\n$plan")
  }

  test("n13 simhash sketch: per-row fold, not the vote aggregation") {
    // the sketch stage is a per-row fused fold; the pair-dedup distinct
    // may aggregate, but the vote aggregate (and its explode+distinct
    // feeding shuffles) must not reappear
    val plan = finalPlan(q("n13_simhash_neardup"))
    assert(plan.contains("graft_simhash_of"),
      s"sketches must ride the fused per-row expression:\n$plan")
    assert(!plan.contains("graft_simhash("),
      s"per-row simhash must not re-introduce the vote aggregation:\n$plan")
  }

  test("n71 semantic decontam: benchmark broadcast, corpus never shuffles") {
    val plan = finalPlan(q("n71_semantic_decontam"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the benchmark side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus x benchmark must not be a shuffled cartesian:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle into a join:\n$plan")
  }

  test("n54 semdedup: pair join is equi on the cell, never a cartesian") {
    val plan = finalPlan(q("n54_semdedup"))
    assert(!plan.contains("CartesianProduct"),
      s"within-cell join must be equi on cell, not all-pairs:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("LeftOuter"),
      s"only the drop-tag join may be non-equi:\n$plan")
  }

  test("n55 mixture sample: the 20-row rate table broadcasts onto the corpus") {
    val plan = finalPlan(q("n55_mixture_sample"))
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle-join the rate dim:\n$plan")
  }

  test("n56 source overlap: joins carry md5 fingerprints, never text") {
    val plan = finalPlan(q("n56_source_overlap"))
    val joinLines = plan.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joinLines.contains("text#"),
      s"document text reached a join:\n$joinLines")
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("n57 bpe pairs: corpus shuffles once as words; top-20 is TakeOrdered") {
    val plan = finalPlan(q("n57_bpe_pairs"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$plan")
    // two agg shuffles: the corpus once (by word), then the
    // vocabulary-sized pair relation — never the token stream twice
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2,
      s"expected word + pair agg shuffles only:\n$plan")
  }

  test("n58 kmeans step: one shuffle of partial sums, never the exploded corpus") {
    val plan = finalPlan(q("n58_kmeans_step"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly the (cell, dim) agg shuffle:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"map-side partial aggregation must precede the shuffle:\n$plan")
  }

  test("j8 full outer: one sort-merge pass, not a triple-scan reconciliation") {
    val plan = finalPlan(q("j8_full_outer"))
    assert(plan.contains("FullOuter"), s"no full outer join:\n$plan")
    assert("SortMergeJoin".r.findAllIn(plan).length == 1,
      s"reconciliation must be ONE join pass:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length <= 2,
      s"each snapshot reads once:\n$plan")
  }

  test("n59 line dedup: first-occurrence via agg (map-side partials), never a window") {
    val plan = finalPlan(q("n59_line_dedup"))
    // a row_number window over PARTITION BY line ships every copy of a
    // hot boilerplate line to one reducer; the agg form collapses them
    // map-side — the whole reason n59 is written as groupBy().min()
    assert(!plan.contains("Window"), s"line dedup must not window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cross join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4,
      s"expected line-agg + doc-agg (+small doc-dim join) shuffles only:\n$plan")
  }

  test("n60 corpus order: range-partitioned numbering, no global-order funnel") {
    val plan = finalPlan(q("n60_corpus_order"))
    assert(plan.contains("rangepartitioning"),
      s"ordering must range-shuffle on the seed hash:\n$plan")
    // the data rows are numbered inside each range partition, by no
    // window; only the metadata-sized per-partition-count window may
    // be unpartitioned
    assert(plan.contains("monotonically_increasing_id"),
      s"rows must be numbered within their range partition:\n$plan")
    val rowNumWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number")).toSeq
    assert(rowNumWindows.forall(_.contains("graft__pid")),
      s"row_number window must be partition-local:\n${rowNumWindows.mkString("\n")}")
  }

  test("n61 dup-ngram coverage: shuffles carry fingerprints and positions, never gram text") {
    val plan = finalPlan(q("n61_dup_ngram_frac"))
    assert(!plan.contains("Window"), s"coverage must be agg-shaped:\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    // graft__pg is the struct column that carries the gram TEXT; the
    // shuffles must only ever see the fingerprint/position projection
    assert(!exchangeLines.contains("graft__pg#") && !exchangeLines.contains("text#"),
      s"gram/document text reached a shuffle:\n$exchangeLines")
  }

  test("n62 soft dedup: cluster sizes ride the md5 window, rollup joins nothing big") {
    val plan = finalPlan(q("n62_soft_dedup_weights"))
    assert(plan.contains("Window"), s"cluster sizes must be the count window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"no join belongs in this plan:\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text reached a shuffle (hash at the scan instead):\n$exchangeLines")
  }

  test("n63 hll rollup: sketches merge via aggregation, exact side joins as broadcast") {
    val plan = finalPlan(q("n63_hll_rollup"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row merged estimate must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("n64 filter funnel: one stage rollup, no window, no cartesian") {
    val plan = finalPlan(q("n64_filter_funnel"))
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"funnel must be agg-shaped:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"token counts and stage rollup must partial-aggregate:\n$plan")
  }

  test("x16 checksum: map-only scan into the two-level fold, one bucket shuffle") {
    val plan = finalPlan(q("x16_table_checksum"))
    // level 1 buckets by h % 8192 (ONE hashpartitioning exchange of
    // ≤8192 groups), level 2 is the single-partition fold; both levels
    // partial-aggregate map-side — the whole point of the redesign
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly the bucket shuffle:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 4,
      s"both fold levels need partial+final aggregates:\n$plan")
    assert(!plan.contains("Join"), s"checksum must not join:\n$plan")
  }

  test("n68 online parity: one cached shingle pass; joins never carry text") {
    val plan = finalPlan(q("n68_online_neardup"))
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      s"band keys and shingles must come from the shared caches:\n$plan")
    val joinLines = plan.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joinLines.contains("text#"),
      s"document text reached a join:\n$joinLines")
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("n70 leakage-safe split: cluster reps join on ids, split decision is map-side") {
    val plan = finalPlan(q("n70_leakage_safe_split"))
    assert(plan.contains("LeftOuter"),
      s"corpus must LEFT join the (tiny) cluster relation:\n$plan")
    val joinLines = plan.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joinLines.contains("text#"),
      s"document text reached a join:\n$joinLines")
    // after the join, the assignment is hash+CASE — nothing may sort or
    // shuffle the assigned corpus again
    assert(!plan.matches("(?s).*Sort .*global=true.*"),
      s"unexpected global sort:\n$plan")
  }

  test("s23 IVF layout: the probe prunes partitions at the catalog, top-k is TakeOrdered") {
    val df = q("s23_ivf_layout")
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the probe-side scan must carry the cell IN (...) partition filter
    // and actually select only the probed partitions (2 of ≤16 cells)
    val probed = scans.find(_.metadata("PartitionFilters").contains("cell"))
      .getOrElse(fail(s"no partition-filtered scan:\n${scans.map(_.metadata)}"))
    assert(probed.selectedPartitions.partitionCount <= 2,
      s"probe must read only nprobe partitions, read ${probed.selectedPartitions.partitionCount}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
  }

  test("s24 incremental agg: refresh reads summary groups + date-pruned delta only") {
    val df = q("s24_incremental_agg")
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    // exactly two relations feed the refresh: the stored summary and
    // the delta slice of orders — and the delta's date cutoff must
    // reach the orders scan, or "incremental" silently rescans history
    assert(scans.length == 2, s"expected summary + delta scans, got ${scans.length}")
    val delta = scans.find(_.metadata("Location").contains("orders"))
      .getOrElse(fail("no orders-side scan"))
    assert(delta.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      s"delta date filter not pushed: ${delta.metadata("PushedFilters")}")
  }

  test("n51 bloom semi join: the bloom probe filters the fact side BELOW the join") {
    val plan = finalPlan(q("n51_bloom_semi_join"))
    // the probe must be a plain Filter on the orders branch fed by a
    // scalar subquery, with the exact semi join ABOVE it — the composed
    // cross-join form regressed exactly here (PushDownLeftSemiAntiJoin
    // hoisted the probe above the join, where it filters nothing)
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    val joinIdx = plan.indexOf("LeftSemi")
    val probeIdx = plan.indexOf("graft_bloom_contains")
    assert(probeIdx >= 0, s"bloom probe not in the plan:\n$plan")
    assert(probeIdx > joinIdx,
      s"bloom probe must sit below (after, in plan text) the semi join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bloom must arrive via scalar subquery, not a cross join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("n75 weighted sample: two-level top-k, no global sort, no text in exchanges") {
    val plan = finalPlan(q("n75_weighted_sample"))
    // two window levels = two local sorts over slim projections; a
    // single global-sort funnel (or a one-level window over the raw
    // corpus at 100 TB) is the regression this pins against
    assert(!plan.matches("(?s).*Sort .*global=true.*"),
      s"unexpected global sort:\n$plan")
    assert("RunningWindowFunction|Window".r.findAllIn(plan).size >= 2,
      s"expected the two top-k window levels:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n76 logreg step: one partial-agg shuffle of BIGINT partials, no join") {
    val plan = finalPlan(q("n76_logreg_step"))
    assert(!plan.contains("Join"), s"gradient step must not join:\n$plan")
    // map-side partial + final aggregate around a single exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial aggregation must precede the shuffle:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"a global agg needs no keyed exchange:\n$plan")
  }

  test("n77 dedup audit: joins carry ids, never text; no cartesian corpus join") {
    val plan = finalPlan(q("n77_dedup_audit"))
    val joinLines =
      plan.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joinLines.contains("text#"),
      s"document text reached a join:\n$joinLines")
    // the only nested-loop joins are the broadcast 1-row total/count
    // reconciliation — a corpus-sized cartesian is the regression
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
  }

  test("n78 multi-query ANN: query batch broadcast, two-level top-k, vectors stay out of exchanges") {
    val plan = finalPlan(q("n78_multiquery_ann"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query batch must broadcast:\n$plan")
    assert(!plan.matches("(?s).*Sort .*global=true.*"),
      s"unexpected global sort:\n$plan")
    assert("RunningWindowFunction|Window".r.findAllIn(plan).size >= 2,
      s"expected the two top-k window levels:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("embedding#") &&
      !exchangeLines.contains("graft__v#") &&
      !exchangeLines.contains("graft__qv#"),
      s"vectors entered an exchange (only slim scored rows may):\n$exchangeLines")
  }

  test("n79 k-means train: centroids broadcast, corpus vectors never shuffle") {
    val plan = finalPlan(q("n79_kmeans_train"))
    // every assignment joins against the one-row centroid broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 3,
      s"3 assignment rounds must each broadcast the centroid row:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"non-broadcast cross join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
    // the per-round exchange carries (cell, dim) BIGINT partials, never
    // the quantized vectors
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("graft__qv#") &&
      !exchangeLines.contains("embedding#"),
      s"vectors entered an exchange:\n$exchangeLines")
  }

  test("n82 IVF multi-query: candidate generation is an equi-join on the cell, not a cross join") {
    val plan = finalPlan(q("n82_ivf_multiquery"))
    // the whole point vs n78: probes arrive as a broadcast HASH join on
    // cell (each query scores nprobe/nlist of the corpus), never a
    // nested-loop scoring of everything
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set must equi-join on cell:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"candidate generation regressed to all-pairs scoring:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("embedding#") &&
      !exchangeLines.contains("graft__v#") &&
      !exchangeLines.contains("graft__qv#"),
      s"vectors entered an exchange:\n$exchangeLines")
  }

  test("n83 logreg train: weights broadcast both directions, no keyed exchange") {
    val plan = finalPlan(q("n83_logreg_train"))
    // each of the 3 steps: corpus × broadcast weights, global partial agg
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 3,
      s"each GD step must broadcast the 1-row weights:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"global gradient aggs need no keyed exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"unexpected join strategy:\n$plan")
  }

  test("n84 classifier eval: one map-only pass into a global agg, no join") {
    val plan = finalPlan(q("n84_classifier_eval"))
    assert(!plan.contains("Join"), s"eval must not join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial aggregation must precede the shuffle:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"a global agg needs no keyed exchange:\n$plan")
  }

  test("n85 source datacard: exchanges carry md5 keys and partials, never text") {
    val plan = finalPlan(q("n85_source_datacard"))
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial aggregation must precede the shuffle:\n$plan")
  }

  test("n86 quality percentile: window over the HISTOGRAM, cutoffs broadcast back") {
    val plan = finalPlan(q("n86_quality_percentile"))
    // the corpus join must be against the broadcast 5-row cutoff table,
    // and the cumulative window must sit above the histogram aggregate
    // (a per-lang rank window directly over the corpus is the
    // hot-language funnel this shape exists to avoid)
    assert(plan.contains("BroadcastHashJoin"),
      s"cutoffs must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffle join:\n$plan")
    // both windows must consume the HISTOGRAM aggregate's count column
    // (a per-lang rank window directly over corpus rows is the funnel
    // this shape exists to avoid)
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("sum(graft__c#")),
      s"windows must run over the aggregated histogram, not the corpus:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n87 curriculum order: range-partitioned numbering, no global-order funnel") {
    val plan = finalPlan(q("n87_curriculum_order"))
    assert(plan.contains("rangepartitioning"),
      s"dense numbering must range-shuffle, not globally sort:\n$plan")
    assert(!plan.matches("(?s).*Sort .*global=true.*"),
      s"single-partition global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"partition offsets must broadcast:\n$plan")
  }

  test("n88 OOV rate: vocab rides a broadcast, top-20 via TakeOrdered") {
    val plan = finalPlan(q("n88_oov_rate"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k vocab must not globally sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"membership test must broadcast the k-row vocab:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream must never shuffle-join:\n$plan")
  }

  test("s25 IVF refresh: reads the stats file + the delta only, never the indexed corpus") {
    val plan = finalPlan(q("s25_ivf_refresh"))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2,
      s"refresh must read exactly stats + delta, found $scans scans:\n$plan")
    // (the full-outer merge itself joins two ≤nlist-row cell tables —
    // any strategy is fine at that size; the scan count is the pin)
  }

  test("n89 token drift: vocab-sized joins, totals broadcast, top-10 TakeOrdered") {
    val plan = finalPlan(q("n89_token_drift"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top movers must not globally sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row totals must broadcast:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n90 length histogram: map-only bucket projection into one grouped agg") {
    val plan = finalPlan(q("n90_length_histogram"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial aggregation must precede the shuffle:\n$plan")
    assert(!plan.contains("Join"), s"histogram must not join:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n91 cell-lang profile: the doc↔vector join ships ids and keys, never text or vectors") {
    val plan = finalPlan(q("n91_cell_lang_profile"))
    val heavy = plan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Join"))
      .mkString("\n")
    assert(!heavy.contains("text#") && !heavy.contains("embedding#"),
      s"payload columns reached a join/exchange:\n$heavy")
    // the share window runs over the cells×langs AGGREGATE, not the
    // corpus: its sum argument must be the aggregate's output column
    val winLine = plan.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(winLine.contains("sum(n_docs#"),
      s"share window must consume the aggregated relation:\n$plan")
  }

  test("n92 embed-norm QA: one map pass, moments broadcast back, no vector in exchanges") {
    val plan = finalPlan(q("n92_embed_norm_qa"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row moments must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("embedding#"),
      s"vectors entered an exchange:\n$exchangeLines")
  }

  test("n93 centroid audit: k×k join of the trained k-row model, corpus never re-shuffled") {
    val plan = finalPlan(q("n93_centroid_audit"))
    // the audit join runs over the posexploded centroid ROW (k rows);
    // the only corpus-touching stages are the training rounds, whose
    // exchanges carry (cell, dim) BIGINT partials
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("graft__qv#") &&
      !exchangeLines.contains("embedding#"),
      s"vectors entered an exchange:\n$exchangeLines")
    assert(!plan.contains("CartesianProduct"),
      s"k-row audit join must stay broadcast:\n$plan")
  }

  test("n94 session sequences: one user shuffle shared by window and rollup") {
    val plan = finalPlan(q("n94_session_sequences"))
    // the island window and the per-session aggregation both key on
    // user_id — Catalyst must reuse ONE hash exchange (a second
    // corpus shuffle for the rollup is the regression)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1,
      s"window + rollup must share one user shuffle, found $exchanges:\n$plan")
    assert(!plan.matches("(?s).*Sort .*global=true.*"),
      s"unexpected global sort:\n$plan")
  }

  test("n95 fuzzy decontam: bench side broadcast twice, corpus text out of exchanges") {
    val plan = finalPlan(q("n95_fuzzy_decontam"))
    // candidates via broadcast band join + verify via broadcast shingle
    // join — the corpus side must never shuffle-join against the bench
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"bench bands AND bench shingles must broadcast:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n96 waterfill: one corpus agg; allocation arithmetic over broadcast totals") {
    val plan = finalPlan(q("n96_budget_waterfill"))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1,
      s"the corpus must be read once (one grouped token count), found $scans:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      s"both 1-row total tables must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("n80 classifier apply: a pure map-only scoring pass — no exchange") {
    val plan = finalPlan(q("n80_classifier_apply"))
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("n81 temperature mix: one corpus agg, totals ride a broadcast") {
    val plan = finalPlan(q("n81_temperature_mix"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row totals must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n97 ann recall: every join broadcasts (retrieval results are metadata)") {
    val plan = finalPlan(q("n97_ann_recall"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"recall audit must never shuffle-join queriesxk metadata:\n$plan")
  }

  test("n98 gram power: map-only projection plus ONE aggregate exchange") {
    val plan = finalPlan(q("n98_gram_power"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the Gramian product must stay join/window-free:\n$plan")
    val shuffles = plan.linesIterator.count(_.contains("Exchange"))
    assert(shuffles <= 2, // hashpartitioning + AQE read marker at most
      s"expected the single dim-agg exchange, found $shuffles:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial sum") ||
      plan.contains("Partial"),
      s"dimension aggregate must combine map-side:\n$plan")
  }

  test("n99 dsir: vocab ratio table broadcasts; text never enters an exchange") {
    val plan = finalPlan(q("n99_dsir_weights"))
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio lookup must be a broadcast equi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream must not shuffle-join the vocab:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n100 cluster rep: argmax is agg-shaped (min struct), not a window") {
    val plan = finalPlan(q("n100_cluster_rep"))
    assert(!plan.contains("Window"),
      s"per-component argmax must be an aggregate, not a window:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n102 cross-doc spans: shuffles carry fingerprint/position longs, never text") {
    val plan = finalPlan(q("n102_dup_spans"))
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#") &&
      !exchangeLines.contains("graft__ws#"),
      s"document text/tokens entered an exchange:\n$exchangeLines")
  }

  test("n105 span scrub: rebuild is a per-row filter; text never in an exchange") {
    val plan = finalPlan(q("n105_span_scrub"))
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#") &&
      !exchangeLines.contains("graft__ws#") &&
      !exchangeLines.contains("clean_text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n103 snapshot diff: the id join ships digests, never document bodies") {
    val plan = finalPlan(q("n103_snapshot_diff"))
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#"),
      s"document text entered an exchange:\n$exchangeLines")
  }

  test("n104 pq adc: map-only coding, broadcast LUT, TakeOrdered top-k") {
    val plan = finalPlan(q("n104_pq_adc"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row LUT must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"PQ scoring must not shuffle-join:\n$plan")
  }

  test("s26 pq layout: serving scans codes; vectors only for the 1-row query") {
    val plan = finalPlan(q("s26_pq_layout"))
    assert(plan.contains("code_0#"),
      s"serving side must read the stored codes table:\n$plan")
    val vectorScans = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("embedding"))
      .size
    assert(vectorScans <= 1,
      s"only the query row may touch embeddings, found $vectorScans scans:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$plan")
  }

  test("n107 exact-k sample: two-level top-k, no one-reducer-per-group window") {
    val plan = finalPlan(q("n107_exact_k_sample"))
    // both window levels must carry a partition spec (lang+salt / lang)
    val windows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number"))
      .mkString("\n")
    assert(!windows.contains("Window [row_number() windowspecdefinition(ORDER"),
      s"unpartitioned ranking window found:\n$windows")
    assert(plan.contains("graft__salt") || plan.contains("pmod"),
      s"local level must salt-bucket the group:\n$plan")
  }

  test("n108 hard negatives: anchors broadcast; label guard before ranking") {
    val plan = finalPlan(q("n108_hard_negatives"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the anchor batch must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle-join the anchors:\n$plan")
  }

  test("n109 audio meta: synth+decode is map-only — zero exchanges") {
    val plan = finalPlan(q("n109_audio_meta"))
    assert(!plan.contains("Exchange"),
      s"per-clip decode must not shuffle:\n$plan")
  }

  test("n112 matryoshka recall: every join broadcasts (metadata audit)") {
    val plan = finalPlan(q("n112_matryoshka_recall"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"audit joins must broadcast:\n$plan")
  }

  test("s28 lexical index: probe path reads ONLY the index — no text anywhere, broadcast probe, TakeOrdered") {
    val df = q("s28_lexical_index") // builds the index, returns the probe
    val plan = finalPlan(df)
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "probe must scan the stored index")
    scans.foreach { s =>
      assert(!s.metadata("ReadSchema").contains("text"),
        s"probe scan must never read text: ${s.metadata("ReadSchema")}")
      assert(!s.metadata("Location").contains("documents"),
        s"probe must read the index path, not the corpus: ${s.metadata("Location")}")
    }
    assert(plan.contains("BroadcastHashJoin"),
      s"query shingles must broadcast onto the postings:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
  }

  test("s29 lexical serve: index-only idf ranking — no text scan, weights broadcast") {
    val df = q("s29_lexical_serve")
    val plan = finalPlan(df)
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(!s.metadata("ReadSchema").contains("text"),
        s"serve scan must never read text: ${s.metadata("ReadSchema")}")
      assert(!s.metadata("Location").contains("documents"),
        s"serve must read the index path, not the corpus: ${s.metadata("Location")}")
    }
    assert(plan.contains("BroadcastHashJoin"),
      s"query weights must broadcast onto the postings:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
  }

  test("n121 hybrid serve: both legs from stored layouts — no text scan, one query-row vector read") {
    val df = q("n121_hybrid_serve") // builds both indexes, returns fusion
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(!s.metadata("ReadSchema").contains("text"),
        s"serving must never shingle corpus text: ${s.metadata("ReadSchema")}")
    }
    // full-precision vectors may be read ONLY for the query row (the
    // pushed vec_id filter) — the corpus side is the stored codes table
    scans.filter(_.metadata("ReadSchema").contains("embedding")).foreach { s =>
      assert(s.metadata("PushedFilters").contains("EqualTo(vec_id,3)"),
        s"corpus vectors must not be scanned: ${s.metadata("PushedFilters")}")
    }
  }

  test("s31 point probe: bucket set prunes partitions at the catalog, shingle IN pushed to the reader") {
    val df = q("s31_lexical_point_probe")
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    // the query has 5 distinct shingles → at most 5 of 16 bucket dirs
    val pruned = scans.filter(_.metadata("PartitionFilters").contains("bucket"))
    assert(pruned.nonEmpty, s"no bucket-pruned scan:\n${scans.map(_.metadata)}")
    pruned.foreach { p =>
      assert(p.selectedPartitions.partitionCount <= 5,
        s"probe must read only the query's buckets, read ${p.selectedPartitions.partitionCount}")
      assert(p.metadata("PushedFilters").contains("In(shingle"),
        s"shingle IN-list not pushed: ${p.metadata("PushedFilters")}")
      assert(!p.metadata("ReadSchema").contains("text"))
    }
  }

  test("s32 IVF-PQ: cell set prunes the codes table at the catalog, shortlist broadcasts, TakeOrdered") {
    val df = q("s32_ivfpq_layout")
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    val pruned = scans.filter(_.metadata("PartitionFilters").contains("cell"))
    assert(pruned.nonEmpty, s"no cell-pruned scan:\n${scans.map(_.metadata)}")
    pruned.foreach(p => assert(p.selectedPartitions.partitionCount <= 2,
      s"probe must read only nprobe cells, read ${p.selectedPartitions.partitionCount}"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 50-id shortlist must broadcast into the rerank:\n$plan")
  }

  test("n101 balanced shards: range-partitioned rank, no global-order funnel") {
    val plan = finalPlan(q("n101_balanced_shards"))
    assert(plan.contains("rangepartitioning"),
      s"the global rank must range-shuffle on the size key:\n$plan")
    assert(plan.contains("monotonically_increasing_id"),
      s"the rank must be numbered within its range partition:\n$plan")
    val rowNumWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number")).toSeq
    assert(rowNumWindows.forall(_.contains("graft__pid")),
      s"row_number window must be partition-local:\n${rowNumWindows.mkString("\n")}")
  }

  test("n127 containment: the inverted join ships fp/id/size longs, never text") {
    val plan = finalPlan(q("n127_containment"))
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text#") && !exchangeLines.contains("g#"),
      s"document text/grams entered an exchange:\n$exchangeLines")
  }

  test("n130 margin mining: query batch broadcasts; vectors never shuffle") {
    val plan = finalPlan(q("n130_margin_mining"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query batch must broadcast into the pair scan:\n$plan")
    val exchangeLines =
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("embedding#") &&
      !exchangeLines.contains("graft__v#") &&
      !exchangeLines.contains("graft__qv#"),
      s"embedding vectors entered an exchange:\n$exchangeLines")
  }

  test("n132 prefix dedup: candidate ids broadcast; corpus text pruned map-side") {
    val plan = finalPlan(q("n132_prefix_dedup"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the candidate semi-join must broadcast:\n$plan")
  }

  test("s35 binary codes: the Hamming scan reads the 16-byte layout, vectors only for query + rerank") {
    val df = q("s35_binary_code_layout")
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    val codeScans = scans.filter(_.schema.fieldNames.contains("lo"))
    assert(codeScans.nonEmpty, "no scan over the stored code layout")
    codeScans.foreach { sc =>
      assert(!sc.schema.fieldNames.contains("embedding"),
        s"code scan read vectors: ${sc.schema.fieldNames.mkString(",")}")
    }
  }

  test("s34 ivf stats: occupancy scan reads ids only, never the vectors") {
    val df = q("s34_ivf_stats")
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan found")
    scans.foreach { sc =>
      assert(!sc.schema.fieldNames.contains("embedding"),
        s"stats scan read the vector column: ${sc.schema.fieldNames.mkString(",")}")
    }
  }

  test("n144 span corruption: map-only per-row fold, zero exchanges") {
    val plan = finalPlan(q("n144_span_corruption"))
    assert(!plan.contains("Exchange"),
      s"the input/target fold must not shuffle:\n$plan")
  }

  test("n143 k-anonymity: QI counts broadcast back, no corpus shuffle join") {
    val plan = finalPlan(q("n143_k_anonymity"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the combo counts must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join belongs here:\n$plan")
  }

  test("n149 label prop: bucket-blocked equi-join + agg votes — no cartesian, no window") {
    val plan = finalPlan(q("n149_label_prop"))
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation must be the bucket equi-join:\n$plan")
    assert(!plan.contains("Window"),
      s"the vote argmax must stay agg-shaped:\n$plan")
  }

  test("n151 cdc chunks: per-row fold, chunk text hashed to longs before any exchange") {
    val plan = finalPlan(q("n151_cdc_chunks"))
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("graft__c#") &&
      !exchangeLines.contains("text#") && !exchangeLines.contains("graft__chunks#"),
      s"chunk/doc text reached a shuffle:\n$exchangeLines")
  }

  test("n152 kcore peel: semi-join restriction + count aggs — no window, no cartesian") {
    val plan = finalPlan(q("n152_kcore_peel"))
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation must be the bucket equi-join:\n$plan")
    assert(!plan.contains("Window"),
      s"degrees must stay agg-shaped:\n$plan")
  }

  test("n153 video frames: decode stays in mapPartitions — no exchange before the stats rows") {
    val plan = finalPlan(q("n153_video_frames"))
    assert(!plan.contains("Exchange"),
      s"frame stats are per-row; nothing here should shuffle:\n$plan")
  }

  test("n154 fim split: per-row slice/rejoin, zero exchanges") {
    val plan = finalPlan(q("n154_fim_split"))
    assert(!plan.contains("Exchange"),
      s"the PSM construction must not shuffle:\n$plan")
  }

  test("n155 chat turns: per-row serialize/parse, zero exchanges") {
    val plan = finalPlan(q("n155_chat_turns"))
    assert(!plan.contains("Exchange"),
      s"the JSON round-trip must not shuffle:\n$plan")
  }

  test("n156 late accounting: per-batch watermarks broadcast back, no event-stream shuffle join") {
    val plan = finalPlan(q("n156_stream_late_parity"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the batch-watermark relation must broadcast onto the events:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no event-sized shuffle join belongs here:\n$plan")
  }

  test("n157 kmv overlap: partial sketch aggs, broadcast 1-row algebra, no text in exchanges") {
    val plan = finalPlan(q("n157_kmv_overlap"))
    assert(plan.contains("partial_graft_kmv"),
      s"the kmv sketch must map-side combine:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 1-row sketch/exact legs must broadcast:\n$plan")
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("graft__w"),
      s"raw tokens must never enter an exchange:\n$exchangeLines")
  }

  test("n158 radius join: cell-key equi-join, never a cartesian/nested-loop") {
    val plan = finalPlan(q("n158_radius_join"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the radius join must block on cell keys:\n$plan")
  }

  test("n160 blocklist: suffix explode equi-joins the broadcast list") {
    val plan = finalPlan(q("n160_domain_blocklist"))
    assert(plan.contains("BroadcastHashJoin"),
      s"the blocklist must broadcast onto the suffix stream:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"suffix matching must be an equi-join, not a LIKE nested loop:\n$plan")
  }

  test("n163 mmr: candidate pool via TakeOrdered; greedy rounds broadcast") {
    val plan = finalPlan(q("n163_mmr_rerank"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"the candidate pool must be a top-k cut, not a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"every greedy-round join is k-row metadata and must broadcast:\n$plan")
  }

  test("s41 sketch layout: the served matrix reads ONLY the stored sketches") {
    val df = q("s41_sketch_layout")
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { sc =>
      val loc = sc.relation.location.rootPaths.mkString(",")
      assert(loc.contains("s41_kmv"),
        s"serve plan must scan the stored layout only, found: $loc")
    }
  }

  test("n141 vocab coverage: no window over a corpus-derived relation — histogram only") {
    val plan = finalPlan(q("n141_vocab_coverage"))
    // the type vocabulary grows with the corpus (Heaps' law): every
    // window must consume the count-histogram AGGREGATE's output
    // column, never the per-type relation — a global rank window over
    // types is the one-reducer funnel this shape exists to kill
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, s"no window:\n$plan")
    winLines.foreach { l =>
      assert(l.contains("windowspecdefinition(n#"),
        s"window must order over the DISTINCT COUNT VALUES (the " +
          s"histogram key), not the per-type relation:\n$l")
      assert(!l.contains("w#"),
        s"window references the per-type relation:\n$l")
    }
    assert(winLines.exists(_.contains("graft__types#")),
      s"window must consume the histogram aggregate's output:\n$plan")
    assert(!plan.contains("row_number"),
      s"no per-type ranking window belongs in this plan:\n$plan")
  }

  test("n146 zipf curve: no window over a corpus-derived relation — histogram only") {
    val plan = finalPlan(q("n146_zipf_curve"))
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, s"no window:\n$plan")
    winLines.foreach { l =>
      assert(l.contains("windowspecdefinition(n#"),
        s"window must order over the DISTINCT COUNT VALUES (the " +
          s"histogram key), not the per-type relation:\n$l")
      assert(!l.contains("w#"),
        s"window references the per-type relation:\n$l")
    }
    assert(winLines.exists(_.contains("graft__types#")),
      s"window must consume the histogram aggregate's output:\n$plan")
    assert(!plan.contains("row_number"),
      s"no per-type ranking window belongs in this plan:\n$plan")
  }

  test("n150 feature hash: tokens hash at the scan — no token text in exchanges") {
    val plan = finalPlan(q("n150_feature_hash"))
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("w#") && !exchangeLines.contains("text#"),
      s"token/doc text reached a shuffle:\n$exchangeLines")
  }
}
