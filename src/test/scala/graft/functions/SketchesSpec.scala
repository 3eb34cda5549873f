package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Behavioral laws of the frequency/membership sketches added for n49
  * and n51 — checked against exact answers on data built to include
  * repeats, merges across partitions, and definite non-members.
  */
class SketchesSpec extends SparkTestBase {
  import spark.implicits._

  private def hashed(vals: Seq[Long]) =
    vals.toDF("k").repartition(7) // force partial-buffer merges
      .select(col("k"), col("k").bitwiseAND(lit(0x7fffffffL)).as("h"))

  test("CMS estimate is never below the true count and stays in band") {
    // zipfish multiset: value v appears 1000/v times
    val data = (1L to 200L).flatMap(v => Seq.fill((1000 / v).toInt)(v))
    val df = hashed(data)
    val sketch = df.agg(expr("graft_cms(h, 4, 1024)").as("cms"),
      count(lit(1)).as("n"))
    val exact = df.groupBy("k").agg(count(lit(1)).as("n_true"))
    val checked = exact.join(broadcast(sketch))
      .select(col("k"), col("n_true"),
        SketchAggregates.cmsEstimate(
          col("cms"), col("k").bitwiseAND(lit(0x7fffffffL)), 4, 1024).as("est"),
        col("n"))
      .collect()
    assert(checked.length == 200)
    checked.foreach { r =>
      val (nTrue, est, n) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= nTrue, s"CMS under-counted ${r.getLong(0)}: $est < $nTrue")
      assert(est <= nTrue + 8 * (n / 1024) + 8,
        s"CMS estimate out of band for ${r.getLong(0)}: $est vs $nTrue (n=$n)")
    }
  }

  test("CMS counts every insertion exactly once across partition merges") {
    // each depth row's counters must sum to the input cardinality —
    // a double-merged or dropped partial buffer breaks this invariant
    val df = hashed(1L to 5000L)
    val row = df.agg(expr("graft_cms(h, 3, 64)").as("cms")).head()
    val flat = row.getSeq[Long](0)
    (0 until 3).foreach { j =>
      assert(flat.slice(j * 64, (j + 1) * 64).sum == 5000L,
        s"depth row $j does not sum to the input size")
    }
  }

  test("bloom filter has no false negatives and few false positives") {
    val members = (1L to 3000L).map(_ * 7)
    val bloom = hashed(members)
      .agg(expr("graft_bloom(h, 65536, 6)").as("bf"))
    val probeAll = hashed(1L to 30000L)
      .join(broadcast(bloom))
      .select(col("k"),
        SketchAggregates.bloomMightContain(col("bf"), col("k"), 65536, 6).as("hit"))
      .collect()
    val memberSet = members.toSet
    val missed = probeAll.filter(r => memberSet(r.getLong(0)) && !r.getBoolean(1))
    assert(missed.isEmpty, s"false negatives: ${missed.take(5).mkString(", ")}")
    val fp = probeAll.count(r => !memberSet(r.getLong(0)) && r.getBoolean(1))
    // 3000 keys in 65536 bits / 6 hashes → theoretical fp ≈ 2e-4; allow 10×
    assert(fp <= (27000 * 0.002).toInt, s"false-positive rate too high: $fp/27000")
  }

  test("graft_minhash_band_mix rejects null signature slots loudly") {
    // direct SQL use can feed a null-containing array; getLong on a
    // null slot would silently read 0 and hash a wrong band (ADVICE r08)
    import org.apache.spark.sql.functions.col
    val df = spark.sql(
      "SELECT array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)) AS sig")
    val ex = intercept[Exception] {
      df.selectExpr("graft_minhash_band_mix(sig, 2)").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(ex).exists(c => Option(c.getMessage)
      .exists(_.contains("null signature element"))), s"got: $ex")
  }

  test("space-saving: presence + two-sided bound on an adversarially skewed stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 50 heavy keys (600 each), 5000 light keys (1..8 each), spread over
    // 16 partitions in an interleaved order so per-partition summaries
    // churn; capacity 64 << 5050 distinct
    val heavy = (0 until 50).flatMap(i => Seq.fill(600)(s"H$i"))
    val light = (0 until 5000).flatMap(i => Seq.fill(1 + i % 8)(s"l$i"))
    val rows = (heavy ++ light).zipWithIndex
      .sortBy { case (_, idx) => (idx * 2654435761L) % 104729 } // deterministic interleave
      .map(_._1)
    val df = spark.createDataset(rows).toDF("w").repartition(16)
    val n = rows.size.toLong
    val cap = 64
    val cands = df.agg(expr(s"graft_space_saving(w, $cap)").as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.w"), col("c.est")).as[(String, Long)].collect().toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // presence: every key with true > N/cap must be a candidate
    exact.filter(_._2 > n / cap).keys.foreach { k =>
      assert(cands.contains(k), s"heavy key $k (n=${exact(k)}) missing")
    }
    // two-sided bound for every candidate
    cands.foreach { case (k, est) =>
      val tru = exact.getOrElse(k, 0L)
      assert(est >= tru, s"$k under-counted: est=$est true=$tru")
      assert(est <= tru + n / cap,
        s"$k over-counted: est=$est true=$tru bound=${tru + n / cap}")
    }
  }

  test("space-saving: adversarial high-partition split — heavies survive the capacity eval cut with bounds") {
    import org.apache.spark.sql.functions._
    // 32 partitions (deep partial/final merge fan-in), capacity 32,
    // 8 planted heavies each just over N/capacity, and a large light
    // tail shaped so every partition evicts (maximal credit churn) —
    // the regime where merge credits could crowd a barely-heavy key
    // out of the top-capacity eval cut if the cut were unsafe
    val heavy = (0 until 8).flatMap(i => Seq.fill(700)(s"HH$i"))
    val light = (0 until 4000).flatMap(i => Seq.fill(1 + i % 5)(s"t$i"))
    val rows = (heavy ++ light).zipWithIndex
      .sortBy { case (_, idx) => (idx * 1103515245L) % 99991 }
      .map(_._1)
    val df = spark.createDataset(rows).toDF("w").repartition(32)
    val n = rows.size.toLong
    val cap = 32
    val cands = df.agg(expr(s"graft_space_saving(w, $cap)").as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.w"), col("c.est")).as[(String, Long)].collect()
    // the eval contract: AT MOST capacity candidates
    assert(cands.length <= cap,
      s"summary must emit <= $cap candidates, emitted ${cands.length}")
    val cmap = cands.toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.filter(_._2 > n / cap).keys.foreach { k =>
      assert(cmap.contains(k),
        s"heavy key $k (n=${exact(k)}, thr=${n / cap}) fell out of the eval cut")
    }
    // one-sided exactness + the O(N/cap) over-estimate band (constant 2
    // covers the two-level partial/final merge shape)
    cmap.foreach { case (k, est) =>
      val tru = exact.getOrElse(k, 0L)
      assert(est >= tru, s"$k under-counted: est=$est true=$tru")
      assert(est <= tru + 2 * n / cap,
        s"$k over-counted: est=$est true=$tru bound=${tru + 2 * n / cap}")
    }
  }

  test("space-saving: a low-cardinality stream is EXACT and never credits absent keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // distinct keys < capacity — the summary must return exact counts
    // with zero error even though partitions merge (the ub=0 path; a
    // min-credit merge would inflate keys missing from hot partitions)
    val rows = (0 until 40).flatMap(i => Seq.fill(10 + i)(s"k$i"))
    val df = spark.createDataset(rows).toDF("w").repartition(8)
    val out = df.agg(expr("graft_space_saving(w, 64)").as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.w"), col("c.est"), col("c.err"))
      .as[(String, Long, Long)].collect()
    assert(out.length === 40)
    out.foreach { case (k, est, err) =>
      assert(est === 10L + k.drop(1).toInt && err === 0L,
        s"$k: est=$est err=$err — low-cardinality summary must be exact")
    }
  }

  test("kmv: closed form, partition invariance, and size law") {
    import spark.implicits._
    // values with duplicates and a skewed spread; the sketch must equal
    // the k smallest DISTINCT values no matter how partitions split
    val vals: Seq[Long] =
      (0 until 3000).map(i => ((i * 2654435761L) % 997L) * 1000003L) ++
        (0 until 500).map(_.toLong) // a dense low block, duplicated below
    val rows = vals ++ vals.take(700) // duplicates
    val expected = rows.distinct.sorted.take(64)
    Seq(1, 7, 32).foreach { parts =>
      val got = spark.createDataset(rows).toDF("h").repartition(parts)
        .agg(expr("graft_kmv(h, 64)").as("sk"))
        .select(col("sk")).as[Seq[Long]].head()
      assert(got === expected,
        s"kmv sketch diverged at $parts partitions")
    }
    // size law: fewer distincts than k → the sketch IS the distinct set
    val small = Seq(5L, 1L, 5L, 9L, 1L)
    val gotSmall = spark.createDataset(small).toDF("h")
      .agg(expr("graft_kmv(h, 64)").as("sk"))
      .select(col("sk")).as[Seq[Long]].head()
    assert(gotSmall === Seq(1L, 5L, 9L))
  }

  test("kmv: mergeability — sketch of a union == trimmed union of sketches") {
    import spark.implicits._
    val a = (0 until 900).map(i => ((i * 48271L) % 7919L) * 11L)
    val b = (0 until 900).map(i => ((i * 16807L) % 7919L) * 13L)
    def kmv(xs: Seq[Long]): Seq[Long] =
      spark.createDataset(xs).toDF("h")
        .agg(expr("graft_kmv(h, 64)").as("sk"))
        .select(col("sk")).as[Seq[Long]].head()
    val merged = (kmv(a) ++ kmv(b)).distinct.sorted.take(64)
    assert(kmv(a ++ b) === merged,
      "bottom-k of a union must equal the trimmed union of bottom-k's")
  }

  test("KmvLayout: build + refresh folds to the same sketches as a full build") {
    import spark.implicits._
    import graft.operators.KmvLayout
    val docs = (0 until 400).map { i =>
      (i.toLong, s"g${i % 3}", s"w${i % 90} w${(i * 7) % 130} w${(i * 11) % 50}")
    }.toDF("doc_id", "g", "text")
    val inc = "target/test_kmvlayout/inc"
    val full = "target/test_kmvlayout/full"
    KmvLayout.build(
      docs.filter(col("doc_id") % 5 =!= 0), "g", "doc_id", "text", inc,
      k = 32)
    KmvLayout.refresh(
      docs.filter(col("doc_id") % 5 === 0), "g", "doc_id", "text", inc,
      batchId = "b1")
    KmvLayout.build(docs, "g", "doc_id", "text", full, k = 32)
    def sk(p: String) = KmvLayout.sketches(spark, p)
      .select(col("group"), col("sk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(sk(inc) === sk(full),
      "LSM generations must fold to the exact full-build sketches")
    // the physical layout really is per-doc and generational before the
    // fold: one row per doc, split across the build and delta batches
    assert(spark.read.parquet(s"$inc/sketches").count() === 400L)
    assert(spark.read.parquet(s"$inc/sketches")
      .filter(col("batch") === "b1").count() === 80L)
    def mat(p: String) = KmvLayout.overlapMatrix(spark, p)
      .collect().map(_.toSeq).toSet
    assert(mat(inc) === mat(full))
    // time travel: asOf(0) reads exactly the pre-refresh build, while
    // the un-pinned read folds the delta generation in
    val base = "target/test_kmvlayout/base"
    KmvLayout.build(
      docs.filter(col("doc_id") % 5 =!= 0), "g", "doc_id", "text", base,
      k = 32)
    def skAsOf(p: String, g: Option[Long]) = KmvLayout.sketches(spark, p, g)
      .select(col("group"), col("sk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(skAsOf(inc, Some(0L)) === skAsOf(base, None))
    assert(skAsOf(inc, Some(1L)) === sk(full))
    // pins SURVIVE a compact: per-row gens are preserved through the
    // fold, so asOf(0) keeps answering with exactly the build corpus —
    // and the next refresh's ordinal CONTINUES (never restarts), so a
    // later pin stays unambiguous
    KmvLayout.compact(spark, inc)
    assert(skAsOf(inc, Some(0L)) === skAsOf(base, None),
      "a membership pin must survive the compact")
    KmvLayout.refresh(
      (400 until 420).map(i => (i.toLong, s"g${i % 3}", s"z$i"))
        .toDF("doc_id", "g", "text"),
      "g", "doc_id", "text", inc, batchId = "b2")
    assert(spark.read.parquet(s"$inc/sketches")
      .filter(col("batch") === "b2")
      .select(col("gen")).distinct().as[Long].collect().toSeq === Seq(2L),
      "the post-compact ordinal must continue at 2, not restart at 1")
    assert(skAsOf(inc, Some(1L)) === sk(full),
      "the pre-compact pin still resolves after a post-compact refresh")
  }

  test("KmvLayout: refresh retry is idempotent; forget == rebuild on the remaining corpus") {
    import spark.implicits._
    import graft.operators.{KmvLayout, LsmLayout}
    val docs = (0 until 400).map { i =>
      (i.toLong, s"g${i % 3}", s"w${i % 90} w${(i * 7) % 130} w${(i * 11) % 50}")
    }.toDF("doc_id", "g", "text")
    val p = "target/test_kmvlayout/retry"
    KmvLayout.build(
      docs.filter(col("doc_id") % 5 =!= 0), "g", "doc_id", "text", p, k = 32)
    KmvLayout.refresh(
      docs.filter(col("doc_id") % 5 === 0), "g", "doc_id", "text", p,
      batchId = "b1")
    def sk(q: String) = KmvLayout.sketches(spark, q)
      .select(col("group"), col("sk"))
      .as[(String, Seq[Long])].collect().toMap
    val before = sk(p)
    val physBefore = spark.read.parquet(s"$p/sketches").count()
    // clean retry no-ops on the marker; a marker-less replay (partial
    // first attempt) must overwrite its own batch partition and
    // re-stamp the SAME generation number
    KmvLayout.refresh(
      docs.filter(col("doc_id") % 5 === 0), "g", "doc_id", "text", p,
      batchId = "b1")
    LsmLayout.dropCommit(spark, p, "b1")
    KmvLayout.refresh(
      docs.filter(col("doc_id") % 5 === 0), "g", "doc_id", "text", p,
      batchId = "b1")
    assert(spark.read.parquet(s"$p/sketches").count() === physBefore)
    assert(spark.read.parquet(s"$p/sketches").agg(max(col("gen")))
      .head().getLong(0) === 1L, "a replayed batch must re-stamp its gen")
    assert(sk(p) === before)

    // forget: drop every doc of one group plus a slice of another —
    // the served matrix must equal a from-scratch build on the rest
    val forget = docs.filter(col("g") === "g0" ||
      (col("g") === "g1" && col("doc_id") < 100))
    KmvLayout.tombstone(forget.select("doc_id"), "doc_id", p, batchId = "d1")
    val rem = "target/test_kmvlayout/remain"
    KmvLayout.build(
      docs.join(forget.select("doc_id"), Seq("doc_id"), "left_anti"),
      "g", "doc_id", "text", rem, k = 32)
    assert(sk(p) === sk(rem), "forget must equal rebuild-on-remaining")
    assert(!sk(p).contains("g0"), "a fully-forgotten group must vanish")
    def mat(q: String) = KmvLayout.overlapMatrix(spark, q)
      .collect().map(_.toSeq).toSet
    assert(mat(p) === mat(rem))
    // compact drops the rows from the live layout and keeps serving
    // identically; the second cycle's GC clears the forget-set dir
    KmvLayout.compact(spark, p)
    assert(LsmLayout.snapshot(spark, p).pendingTombstones.isEmpty)
    assert(sk(p) === sk(rem))
    assert(mat(p) === mat(rem))
    KmvLayout.compact(spark, p)
    assert(!new java.io.File(s"$p/tombstones").exists())
    assert(sk(p) === sk(rem))
  }

  test("KmvLayout: refresh auto-compaction folds batches and preserves the fold") {
    import spark.implicits._
    import graft.operators.{KmvLayout, LsmLayout}
    val docs = (0 until 300).map { i =>
      (i.toLong, s"g${i % 3}", s"w${i % 70} w${(i * 7) % 110}")
    }.toDF("doc_id", "g", "text")
    val p = "target/test_kmvlayout/autocompact"
    val full = "target/test_kmvlayout/autocompact_full"
    KmvLayout.build(
      docs.filter(col("doc_id") % 4 === 0), "g", "doc_id", "text", p, k = 32)
    Seq(1L, 2L, 3L).foreach { r =>
      KmvLayout.refresh(
        docs.filter(col("doc_id") % 4 === r), "g", "doc_id", "text", p,
        batchId = s"b$r", compactAfterGenerations = 2)
    }
    // b2 made 3 batches > 2 → compacted to 1; b3 appended → 2 LIVE
    assert(LsmLayout.liveGenerationCount(
      spark, p, s"$p/sketches") === 2)
    KmvLayout.build(docs, "g", "doc_id", "text", full, k = 32)
    def sk(q: String) = KmvLayout.sketches(spark, q)
      .select(col("group"), col("sk"))
      .as[(String, Seq[Long])].collect().toMap
    assert(sk(p) === sk(full))
  }
}
