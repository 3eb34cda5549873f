package graft.tools

import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.sources.Tables

/** 10× synthetic scale drill for the heavy near-dup/CC/pipeline family
  * (dev tool; run: `sbt "runMain graft.tools.ScaleDrill"`).
  *
  * Builds a ~10× `documents` corpus from sf0.1 — the testdata stays
  * read-only; the synthetic corpus lands under target/ — and runs the
  * four heaviest document-family queries against it, reporting wall
  * times next to the same-process sf0.1 times. The bound of interest is
  * super-linear-free scaling (≤ ~15× wall at 10× rows, slack for fixed
  * costs), plus completion without driver OOM.
  *
  * Corpus construction: 10 salted copies per document. Copy 0 is
  * verbatim; copies 1..9 suffix every 3rd token with a copy tag, which
  * destroys enough 3-shingles that COPIES ARE NOT NEAR-DUPS OF EACH
  * OTHER (pairwise Jaccard ≈ 0.2, far under the 0.8 threshold) while
  * each copy stratum preserves the original corpus's near-dup
  * structure — so the near-dup workload scales ~10× in pairs and
  * clusters instead of exploding quadratically inside 10-way
  * exact-duplicate groups, which would measure output-size growth, not
  * operator scaling. (Exact-dup load at scale is exercised separately:
  * n40's first stage dedups md5 groups, and the drill corpus still
  * funnels 10× rows through it.)
  *
  * The ANN/layout family (n5 LSH, n43 IVF probe, n54 SemDeDup, s23 IVF
  * layout) drills against a 10× `embeddings` table: 10 copies per
  * vector, copy 0 verbatim, copies 1..9 deterministically perturbed
  * per-component so copies spread across IVF cells instead of piling
  * into exact-duplicate stacks. After timing s23 at 10×, the drill
  * re-asserts the plan property the layout exists for: the probe scan's
  * PartitionFilters still carries the probe set and reads ≤ nprobe of
  * the cell partitions — catalog pruning must survive scale, not
  * just the sf0.001 plan pin.
  *
  * IVF sizing at scale: the registry queries fix nlist (4 cells) so the
  * DuckDB oracle can replay the centroid constants, but a deployed IVF
  * sizes nlist WITH the corpus — SemDeDup targets constant per-cell
  * occupancy (nlist ∝ N: within-cell pair work stays linear in N), ANN
  * probes target constant probed-row count (nlist ∝ √N is the standard
  * FAISS guidance). Holding nlist at 4 while rows grow 10× measures the
  * quadratic within-cell blowup of a misconfigured index, not the
  * operator — so the drill reports BOTH arms for n54/n43 at 10×: the
  * fixed registry config (in the main table) and the correctly-sized
  * index (nlist 40 for SemDeDup, nlist 13 / nprobe 6 for the probe),
  * timed with the same warmup discipline.
  *
  * Dev runs: args(0) = base sf dir (default sf0.1), args(1) = comma
  * filter over the drill queries (the sized-nlist arms and the s23
  * pruning assertion run only when their query passes the filter).
  */
object ScaleDrill {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    // args(2): copy factor (default 10) — 100 turns the drill into a
    // two-decade check for the cheap map-only arms (copy tags go in
    // the same token positions, so near-dup structure is preserved at
    // any factor; mind the quadratic families' wall time before
    // pointing 100× at them)
    val copies = if (args.length > 2) args(2).toInt else 10
    val queries = Seq("n3_minhash_neardup", "n13_simhash_neardup",
      "n30_dedup_clusters", "n40_corpus_pipeline", "n41_winnow_fingerprint",
      "n42_winnow_candidates", "n56_source_overlap", "n61_dup_ngram_frac",
      "n68_online_neardup", "n70_leakage_safe_split",
      "n5_ann_lsh_topk", "n43_ann_ivf_probe", "n54_semdedup",
      "n71_semantic_decontam", "s23_ivf_layout",
      // round-9 additions: batch retrieval (brute + IVF-bucketed) and
      // the k-means training loop; classifier apply / temperature mix
      // ride the documents corpus
      "n78_multiquery_ann", "n82_ivf_multiquery", "n79_kmeans_train",
      "n80_classifier_apply", "n81_temperature_mix", "n83_logreg_train",
      "n84_classifier_eval", "n85_source_datacard", "n86_quality_percentile",
      "n87_curriculum_order", "n88_oov_rate", "n89_token_drift",
      "n90_length_histogram", "n91_cell_lang_profile", "n92_embed_norm_qa",
      "n93_centroid_audit", "n94_session_sequences", "n95_fuzzy_decontam",
      "n96_budget_waterfill",
      // round-10 additions: recall audit (exact + IVF retrieval pair),
      // Gramian step, DSIR weights, keep-best representative, shards
      "n97_ann_recall", "n98_gram_power", "n99_dsir_weights",
      "n100_cluster_rep", "n101_balanced_shards",
      "n102_dup_spans", "n103_snapshot_diff", "n104_pq_adc",
      "n105_span_scrub", "n106_stream_funnel_parity",
      "n107_exact_k_sample", "n108_hard_negatives", "s26_pq_layout",
      "n109_audio_meta", "n110_pagerank_step", "n111_rrf_fusion",
      "n112_matryoshka_recall", "n113_calibration_bins",
      "n114_lexical_topk", "n115_drop_provenance", "n116_pq_rerank",
      "n117_rate_anomaly", "n118_similar_docs",
      // round-11 additions: stored lexical index (build+serve+refresh+
      // BM25+point probe), hybrid/IVF-PQ serving, the PageRank training
      // loop, the sharded-CMS parity certificate
      "s28_lexical_index", "s29_lexical_serve", "s30_lexical_refresh",
      "s31_lexical_point_probe", "s32_ivfpq_layout",
      "n119_pagerank_train", "n120_stream_cms_parity",
      "n121_hybrid_serve", "n122_bm25_topk",
      "n123_power_train", "n124_stream_index_parity",
      "s33_lexical_stats", "n125_unicode_nfc", "n126_image_phash_dedup",
      // round-11 continuation: containment, image resize, DoReMi
      // weights, margin mining, the linkage pair, IVF stats
      "n127_containment", "n128_image_resize", "n129_doremi_weights",
      "n130_margin_mining", "n131_fuzzy_er", "n132_prefix_dedup",
      "n133_sorted_neighborhood", "s34_ivf_stats",
      "n134_novelty_score", "n135_audio_energy",
      "n136_dup_triangles", "n137_event_transitions",
      "n138_stream_transitions_parity",
      "n139_binary_ann", "n140_html_strip",
      "s35_binary_code_layout", "n141_vocab_coverage",
      "n142_quantile_normalize",
      // round-11 continuation: CDC apply, the stored band index, the
      // privacy gate, span corruption, space-saving heavy hitters, the
      // Zipf curve and URL canonicalization
      "s36_cdc_apply", "s37_band_index", "n143_k_anonymity",
      "n144_span_corruption", "n145_space_saving_topk",
      "n146_zipf_curve", "n147_url_canonical",
      "n148_mad_outliers", "n149_label_prop", "n150_feature_hash",
      // round-11 continuation, third wave: chunking/graph/codec ops,
      // seq2seq prep, the stream-admission twin, the KMV sketch, the
      // spatial blocking join (pairs grow with density² — workload),
      // ranking eval, crawl hygiene, and the forget-set delete path
      "n151_cdc_chunks", "n152_kcore_peel", "n153_video_frames",
      "n154_fim_split", "n155_chat_turns", "n156_stream_late_parity",
      "n157_kmv_overlap", "n158_radius_join", "n159_auc_exact",
      "n160_domain_blocklist", "s40_lexical_forget",
      "n161_boilerplate_lcp", "n162_stream_outer_parity",
      "n163_mmr_rerank", "s41_sketch_layout", "n164_label_prop_train",
      "n165_stream_kmv_parity", "n166_source_influence",
      "n167_bot_regularity", "n168_stream_regularity_parity", "s42_chunk_store", "n169_chunk_delta", "s43_sketch_time_travel",
      "n170_epoch_quota", "n172_histogram_emd", "n173_stream_cap_parity",
      // round-12 additions: the forget/retry/auto-compaction gates of
      // the stored-layout maintenance family and the chunk-store
      // refresh (these fused oracle runs time build and refresh
      // together; graft.tools.Ledger's build/ingest spans separate them)
      "s44_band_forget", "s45_kmv_forget", "s46_lexical_autocompact",
      "s47_chunk_refresh", "n174_refresh_retry", "n175_band_append_retry",
      "n176_maintenance_interleave", "s48_ivf_refresh", "s49_ivf_forget",
      "s50_band_point_probe", "n177_cluster_registry",
      // round-13 additions: the registry's own lifecycle (autocompact,
      // GDPR forget, the multi-batch foreachBatch loop with a
      // mid-stream replay)
      "s51_registry_autocompact", "s52_registry_forget",
      "n178_stream_registry_parity", "s53_chunk_forget",
      "s54_registry_time_travel", "n179_dead_chunks",
      // round-14 additions: the one-call corpus-level GDPR forget and
      // delta ingest across all six stored layouts (build ×6 +
      // crash-replayed fan-out + the serving-path audits) and the IVF
      // quantizer retrain (Lloyd rounds + reassign + snapshot swap)
      "s55_corpus_forget", "s56_corpus_ingest", "s57_ivf_retrain",
      "s58_ivf_cell_stats", "s59_corpus_maintain",
      // round-15 additions: the cross-layout population-drift audit
      // and the dead-mass maintenance triggers
      "s60_corpus_consistency", "s61_dead_mass_policy",
      "s62_corpus_time_travel",
      // round-16 additions: the registry/ledger dead-mass trigger and
      // the externally-anchored consistency audit
      "s63_registry_dead_mass", "s64_consistency_anchor")
      // (s38_zonemap_scan, s39_bloom_manifest and n171_data_contract read
      // lineitem/orders, which the drill corpus does not scale — their
      // properties are spec-/oracle-pinned instead)
      .filter(q => only.forall(_.contains(q)))

    val spark = Sessions.local(appName = "graft-scale-drill")
    spark.sparkContext.setLogLevel("WARN")

    // corpus construction: see ScaleCorpus
    val scaledDir = ScaleCorpus.build(spark, sfDir, copies)

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // iterative operators persist checkpoint blocks clearCache ignores
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      dt
    }

    // args(3) = "sizedonly": skip the fixed-config main table and run
    // only the sized-IVF arms — at 100× the fixed 4-cell SemDeDup is
    // quadratic BY CONFIG (that misconfiguration is the point of the
    // sized arm) and would run for hours measuring nothing new
    val sizedOnly = args.length > 3 && args(3) == "sizedonly"

    // warmup (codegen/JIT) so neither arm is charged first-run ramp
    val tableQueries = if (sizedOnly) Seq.empty else queries
    tableQueries.foreach { q => time(q, sfDir); time(q, sfDir) }
    val rows = tableQueries.map { q =>
      val base = time(q, sfDir)
      val scaled = time(q, scaledDir)
      println(f"[scale] $q%-22s sf0.1 $base%6.2fs  ${copies}x $scaled%6.2fs  ratio ${scaled / base}%5.2fx")
      (q, base, scaled)
    }
    val (tb, ts) = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"[scale] TOTAL sf0.1 $tb%.2fs  ${copies}x $ts%.2fs  ratio ${ts / tb}%.2fx")

    // correctly-sized IVF arms at 10× (see sizing note in the scaladoc):
    // same warmup discipline, timed against the scaled corpus only —
    // the comparison partner is the fixed-nlist 10× time in the table
    def timeSized(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        build.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      once(); once() // warmup
      println(f"[scale] $label%-22s ${copies}x ${once()}%6.2fs (sized nlist)")
    }
    import graft.operators.Similarity
    // sized with the corpus (scaladoc): probe nlist ∝ √N (13 at 10×),
    // SemDeDup nlist ∝ N for constant per-cell occupancy (40 at 10×)
    val probeNlist = math.max(4, math.round(13 * math.sqrt(copies / 10.0)).toInt)
    val semNlist = math.max(4, 4 * copies)
    if (queries.contains("n43_ann_ivf_probe"))
      timeSized(s"n43_sized_ivf($probeNlist)") {
        val emb = Tables(spark, scaledDir, "embeddings")
        Similarity.ivfTopK(
          emb.filter(col("vec_id") =!= 2), "vec_id", "embedding",
          emb.filter(col("vec_id") === 2), "embedding",
          centroids = Similarity.hyperplanes(probeNlist, 64).map(_.map(_.toDouble)),
          nprobe = 6, k = 15)
      }
    if (queries.contains("n82_ivf_multiquery"))
      timeSized(s"n82_sized_ivf($probeNlist)") {
        val emb = Tables(spark, scaledDir, "embeddings")
        Similarity.ivfMultiTopK(
          emb.filter(col("vec_id") >= 8), "vec_id", "embedding",
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding")),
          "query_id", "embedding",
          centroids = Similarity.hyperplanes(probeNlist, 64).map(_.map(_.toDouble)),
          nprobe = 6, k = 10)
      }
    if (queries.contains("n54_semdedup"))
      timeSized(s"n54_sized_ivf($semNlist)") {
        Similarity.semDedup(
          Tables(spark, scaledDir, "embeddings"), "vec_id", "embedding",
          centroids = Similarity.hyperplanes(semNlist, 64).map(_.map(_.toDouble)),
          threshold = 0.4)
      }

    // s23 at 10×: catalog pruning must hold on the scaled layout — the
    // probe scan carries the cell filter and reads ≤ 2 of the 16 cells.
    // (Gated on the filter: re-building the layout at 10× is not free.)
    if (queries.contains("s23_ivf_layout")) {
      val s23 = SparkEntry.queries("s23_ivf_layout")(spark, scaledDir)
      s23.collect()
      val scans = s23.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val probed = scans.find(_.metadata("PartitionFilters").contains("cell"))
        .getOrElse(throw new IllegalStateException(
          s"10x s23: no partition-filtered scan: ${scans.map(_.metadata)}"))
      val nParts = probed.selectedPartitions.partitionCount
      require(nParts <= 2,
        s"10x s23: probe read $nParts partitions, expected <= nprobe=2")
      println(s"[scale] s23@10x partition pruning holds: " +
        s"$nParts partitions read, PartitionFilters=" +
        probed.metadata("PartitionFilters"))
    }
    spark.stop()
  }
}
