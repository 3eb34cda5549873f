package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.functions.SketchAggregates
import graft.operators.{BandIndex, BpeTrainer, Containment, CrossDupSpans, Decontaminate, DedupClusters, DomainReweight, EntityResolution, GraphMetrics, ImportanceWeights, KMeans, KmvLayout, LexicalIndex, Multimodal, MinHashNearDup, PrefixDedup, Sessionize, ShardBalance, SimHash, Similarity, SnapshotDiff, SurrogateKey, TextOps, TopK}
import graft.streaming.{EventStream, StreamingNearDup}

/** North-star LLM-data-pipeline operators (SURVEY.md §7.4 + builder
  * brief): dedup (exact, key-scoped, MinHash-LSH, SimHash,
  * embedding-cosine), similarity search (brute-force + LSH-bucketed
  * ANN), multimodal binary columns, text analysis (lang-ID, quality,
  * tokens, fingerprints) and streaming-shaped event ops (tumbling/
  * sliding windows, sessionization).
  *
  * Every query has a DuckDB oracle twin. Where the Spark side is
  * probabilistic (MinHash LSH candidates), the oracle computes the
  * EXACT answer and the Spark pipeline is expected to reach it — the
  * false-negative mass at the tested thresholds is ≪ 1e-6 (see
  * MinHashNearDup scaladoc), and exact verification removes all false
  * positives, so the comparison is deterministic in practice.
  *
  * Cross-engine arithmetic rules used throughout: counts/len() emit
  * BIGINT on both sides; ratios are single divisions of exact integers
  * (bit-identical doubles); cosine similarities are rounded to 6
  * decimals before ordering/filtering; portable hashes are md5-derived
  * (never engine hash functions) — engine-local xxhash64 appears only
  * in MinHash candidate generation, which the oracle never sees.
  */
object NorthStar {
  import Q._

  /** Shared ±1 hyperplanes for the ANN query — 4 planes / 16 buckets so
    * the 500-vector test table keeps ~30 candidates per bucket. */
  private val annPlanes: Seq[Seq[Int]] = Similarity.hyperplanes(4, 64)

  /** DuckDB literal for one hyperplane. */
  private def planeSql(p: Seq[Int]): String =
    p.mkString("[", ",", "]::DOUBLE[]")

  /** Shared DuckDB bigram-stream CTEs (`p`: doc_id, pos, w1, w2 — one
    * row per adjacent token pair), the oracle twin of
    * [[TextOps.bigrams]]; used by n48 and n52 so the pairing logic
    * cannot diverge between them. */
  private val bigramCteSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |        len(string_split(text, ' ')) AS n
      |      FROM documents),
      |i AS (SELECT doc_id, ws, unnest(generate_series(1, n - 1)) AS i FROM t),
      |p AS (SELECT doc_id, i AS pos, ws[i] AS w1, ws[i+1] AS w2 FROM i)""".stripMargin

  /** DuckDB bucket expression over a DOUBLE[] column `v`. */
  private def bucketSql(v: String): String =
    annPlanes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product($v, ${planeSql(p)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB sorted (distance, index) struct list over the shared ±1 IVF
    * centroids. For ±1 centroids argmin ‖v−c‖² ≡ argmax v·c (‖v‖² and
    * ‖c‖² = dim are constant across centroids), so the oracle ranks by
    * −dot — same robustness argument as n5's sign-of-dot bucketing:
    * inter-centroid dot gaps are O(1), float noise is ~1e-14. Ties break
    * to the lower index on both engines (struct compare is field-wise).
    */
  private def ivfRankSql(v: String): String = {
    val items = annPlanes.zipWithIndex.map { case (c, i) =>
      s"{'d': -list_dot_product($v, ${planeSql(c)}), 'i': $i}"
    }.mkString(",")
    s"list_sort([$items])"
  }

  /** Word-n-shingle CTEs (`sh`, `shn`) shared by the Jaccard oracles. */
  private def shingleCteN(n: Int): String = {
    val leads = (1 until n)
      .map(i => s"|| ' ' || lead(w, $i) OVER win ").mkString
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    w ${leads}AS shingle
       |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY shingle IS NOT NULL),
       |shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
  }

  private val shingleCte: String = shingleCteN(3)

  /** The s31 ad-hoc serving query — vocabulary phrases the corpus
    * generator emits, so the probe has real hits at every SF. */
  private val pointProbeQuery = "table scan merge part window small hash"

  /** n140's adversarial HTML wrapping: head with a script whose body
    * contains a bare `<`, a comment hiding real-looking markup, and the
    * doc text with every 7th word bolded. The stripper must reduce all
    * of it back to the exact original text. */
  private val htmlPfx = "<html><head><title>doc</title>" +
    "<script>if (a<b) { x=1; }</script></head><body>" +
    "<!-- <p>junk</p> --><p>"
  private val htmlSfx = "</p></body></html>"

  /** One unrolled power-iteration round with the overflow rescale —
    * the DuckDB twin of one [[Similarity.powerIteration]] round. */
  private def piRoundCte(i: Int): String =
    s"""d$i AS (SELECT e.vec_id, CAST(sum(e.q[y.dim] * y.y) AS BIGINT) AS dot
       |      FROM e CROSS JOIN y${i - 1} y GROUP BY 1),
       |r$i AS (SELECT dm.dim, CAST(sum(e.q[dm.dim] * d$i.dot) AS BIGINT) AS y
       |      FROM e JOIN d$i USING (vec_id) CROSS JOIN dims dm GROUP BY 1),
       |sh$i AS (SELECT greatest(length(bin(max(abs(y)))) - 15, 0) AS s
       |      FROM r$i),
       |y$i AS (SELECT dim, y >> (SELECT s FROM sh$i) AS y FROM r$i)"""
      .stripMargin

  /** One unrolled damped PageRank round (scale 1e6, d = 85/100, so
    * (1−d)·scale = 150000) — the DuckDB twin of one [[PageRank.train]]
    * iteration; `//` is BIGINT floor division, matching Spark `div`. */
  private def prRoundCte(i: Int): String =
    s"""m$i AS (SELECT e.v, CAST(sum(r.pr // dg.deg) AS BIGINT) AS mass
       |      FROM e JOIN dg USING (u) JOIN r${i - 1} r ON r.id = e.u
       |      GROUP BY 1),
       |r$i AS (SELECT nodes.id,
       |      CAST(150000 + (coalesce(m.mass, 0) * 85) // 100 AS BIGINT) AS pr
       |      FROM nodes LEFT JOIN m$i m ON nodes.id = m.v)""".stripMargin

  /** CTE `dup(id_a, id_b, jaccard)`: exact-Jaccard pairs at/above the
    * threshold, over the `sh`/`shn` CTEs. */
  private def jaccardPairsCte(threshold: Double): String =
    s"""pair AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT id_a, id_b,
       |    CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
       |  FROM pair
       |  JOIN shn ca ON ca.doc_id = id_a
       |  JOIN shn cb ON cb.doc_id = id_b
       |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $threshold)""".stripMargin

  /** Exact-Jaccard pair SQL over the `sh`/`shn` CTEs. */
  private def jaccardPairsSql(threshold: Double): String =
    s"""${jaccardPairsCte(threshold)}
       |SELECT id_a, id_b, jaccard FROM dup""".stripMargin

  /** Portable 60-bit md5 hash in DuckDB. */
  private def hex60(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::UBIGINT)::BIGINT"

  /** One unrolled MMR greedy round for the n163 oracle: score the
    * not-yet-picked candidates against picks p1..p(i-1), take the
    * integer-argmax. */
  private def mmrRoundCte(i: Int): String = {
    val pickedUnion = (1 until i).map(j => s"SELECT id FROM p$j")
      .mkString(" UNION ")
    s"""r$i AS (SELECT c.id, c.rel, 7 * c.rel - 3 * max(pw.s) AS mmr
       |      FROM c0 c JOIN pw ON pw.ia = c.id
       |      WHERE pw.ib IN ($pickedUnion)
       |        AND c.id NOT IN ($pickedUnion)
       |      GROUP BY 1, 2),
       |p$i AS (SELECT id, rel, mmr FROM r$i ORDER BY mmr DESC, id LIMIT 1)"""
      .stripMargin
  }

  /** n104's shared PQ codebook: 16 deterministic ±1 centroids per
    * 16-dim subspace (the same hyperplane generator as the IVF/LSH
    * family — constants both engines can replay). */
  private val pqCodebook: Seq[Seq[Int]] = Similarity.hyperplanes(16, 16)

  /** The registry's shared PQ codebook, exposed for the serve drill. */
  private[graft] def pqCodebookShared: Seq[Seq[Int]] = pqCodebook

  /** DuckDB 1e-3 integer quantization of an embedding column. */
  private def pqQvSql(e: String): String =
    s"list_transform(CAST($e AS DOUBLE[]), x -> CAST(floor(x * 1000) AS BIGINT))"

  /** DuckDB exact integer dot of quantized `v` (1-based offset `o`)
    * with a ±1 centroid — a signed sum, no multiplies needed. */
  private def pqDotSql(v: String, o: Int, c: Seq[Int]): String =
    c.zipWithIndex.map { case (s, j) => s"($s * $v[${o + j + 1}])" }
      .mkString(" + ")

  /** DuckDB per-subspace PQ code: argmax dot, ties to the lower code
    * (struct sort on (-dot, code) — the n43 ranking idiom, exact here
    * because every dot is integer arithmetic). */
  private def pqRankSql(v: String, o: Int): String = {
    val items = pqCodebook.zipWithIndex.map { case (c, i) =>
      s"{'d': -(${pqDotSql(v, o, c)}), 'i': $i}"
    }.mkString(",")
    s"list_sort([$items])[1].i"
  }

  /** DuckDB ADC lookup table for one subspace: partial dot per code. */
  private def pqLutSql(v: String, o: Int): String =
    pqCodebook.map(c => s"(${pqDotSql(v, o, c)})").mkString("[", ",", "]")

  /** n79's initial centroids: the shared ±1 hyperplanes on the 1e-6
    * quantization grid (±1000000) — deterministic, no RNG. */
  private val kmInit: Seq[Seq[Long]] =
    Similarity.hyperplanes(4, 64).map(_.map(x => x.toLong * 1000000L))

  /** DuckDB VALUES list for [[kmInit]]: (cell, qc BIGINT[]). */
  private def kmCentValues: String =
    kmInit.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ",", "]")}::BIGINT[])"
    }.mkString(",")

  /** The quality classifier shared by the n80/n83–n86 family: n76's
    * feature map with the round-9 trained weights. ONE definition per
    * engine — the apply/eval/datacard/percentile queries and their
    * oracles all read these, so a weight retune cannot desynchronize
    * the family. The score is the rational fast sigmoid (zero libm —
    * every op IEEE-deterministic, bit-identical cross-engine). */
  private val qualityW: (Double, Double, Double) = (-2.0, 6.0, -1.1)

  /** Spark z = w0 + w1·(tokens·0.01) + w2·(chars·0.001) over a
    * documents row — identical op chain to [[qualityZSql]] (IEEE:
    * `a + (−w)·x ≡ a − w·x` bit-for-bit, so the signed-literal form
    * equals the original subtraction spelling). */
  private def qualityZCol: Column =
    lit(qualityW._1) +
      lit(qualityW._2) *
      (TextOps.nTokens(col("text")).cast("double") * lit(0.01)) +
      lit(qualityW._3) * (col("n_chars").cast("double") * lit(0.001))

  /** Spark fast-sigmoid score of a z column. */
  private def qualityScoreCol(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  // two-level per-group top-k: moved to operators/TopK.twoLevel (one
  // definition for n75/n78 and Similarity.ivfMultiTopK; law-tested in
  // EngineLawsProps)

  /** DuckDB z over a documents row (same op chain as [[qualityZCol]]). */
  private def qualityZSql: String =
    s"${qualityW._1} + ${qualityW._2} * (CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.01)\n" +
      s"      + ${qualityW._3} * (CAST(n_chars AS DOUBLE) * 0.001)"

  /** DuckDB fast-sigmoid score of a z expression. */
  private def qualityScoreSql(z: String): String =
    s"0.5 + $z / (2.0 * (1.0 + abs($z)))"

  /** One DuckDB gradient-descent step for n83 — the SQL twin of the
    * Spark loop body: rational fast-sigmoid residuals, 1e-9 BIGINT
    * gradient partials (exact, order-independent), weight update as
    * the identical chain of IEEE ops; ends in `w$r(w0, w1, w2)`. */
  private def lrStepCte(prev: String, r: Int): String =
    s"""z$r AS (SELECT f.y, f.x1, f.x2,
       |    (w.w0 + w.w1 * f.x1) + w.w2 * f.x2 AS z FROM f, $prev w),
       |r$r AS (SELECT x1, x2,
       |    (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS res FROM z$r),
       |g$r AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(floor(res * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
       |    CAST(sum(CAST(floor((res * x1) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1,
       |    CAST(sum(CAST(floor((res * x2) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g2
       |  FROM r$r),
       |w$r AS (SELECT
       |    w.w0 - 0.1 * (CAST(g.g0 AS DOUBLE) / 1000000000.0
       |                  / CAST(g.n AS DOUBLE)) AS w0,
       |    w.w1 - 0.1 * (CAST(g.g1 AS DOUBLE) / 1000000000.0
       |                  / CAST(g.n AS DOUBLE)) AS w1,
       |    w.w2 - 0.1 * (CAST(g.g2 AS DOUBLE) / 1000000000.0
       |                  / CAST(g.n AS DOUBLE)) AS w2
       |  FROM g$r g, $prev w)""".stripMargin

  /** One DuckDB Lloyd round over quantized vectors `e(vec_id, qv)`:
    * integer argmin assignment against centroid table `$prev`, exact
    * BIGINT per-(cell, dim) sums, new centroid floor(qsum/n), empty
    * cells keep the previous centroid — the SQL twin of
    * [[KMeans.assign]]+[[KMeans.update]], ending in `c$r(cell, qc)`. */
  private def kmRoundCte(prev: String, r: Int): String =
    s"""d$r AS (SELECT e.vec_id, e.qv, c.cell,
       |    list_sum(list_transform(range(1, 65),
       |      i -> (e.qv[i] - c.qc[i]) * (e.qv[i] - c.qc[i]))) AS dist
       |  FROM e CROSS JOIN $prev c),
       |a$r AS (SELECT vec_id, qv, cell FROM d$r
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
       |x$r AS (SELECT cell, qv, unnest(generate_series(1, 64)) AS pos FROM a$r),
       |u$r AS (SELECT cell, pos, count(*) AS n,
       |    CAST(sum(qv[pos]) AS BIGINT) AS qsum FROM x$r GROUP BY 1, 2),
       |nc$r AS (SELECT cell,
       |    list(CAST(floor(CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
       |         ORDER BY pos) AS qc FROM u$r GROUP BY cell),
       |c$r AS (SELECT p.cell, coalesce(n.qc, p.qc) AS qc
       |  FROM $prev p LEFT JOIN nc$r n ON p.cell = n.cell)""".stripMargin

  /** SimHash oracle CTEs (`sv`, `sb`, `shash`) ending in
    * shash(doc_id, simhash) — mirrors SimHash.simhash bit-for-bit
    * (programmatic over SimHash.bits, currently 60). */
  private val simhashCte: String = {
    val votes = (0 until SimHash.bits)
      .map(i => s"sum(CASE WHEN (v >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n    ")
    val hash = (0 until SimHash.bits)
      .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""wrds AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |sv AS (SELECT doc_id, ${hex60("w")} AS v FROM wrds),
       |sb AS (SELECT doc_id,
       |    $votes
       |  FROM sv GROUP BY doc_id),
       |shash AS (SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM sb)""".stripMargin
  }

  /** Winnowed fingerprint frame (doc_id, fp) shared by n41/n42: MOSS
    * window-min selection (w = 4) over positional 3-gram hashes.
    *
    * MAP-ONLY: winnowing is a per-document computation, so the whole
    * selection — positional grams, portable hash, full-window minima,
    * per-doc distinct — runs as array expressions on each row; the
    * former spelling exploded one row per gram position and shuffled
    * the corpus into two per-doc windows plus a distinct. Full windows
    * need ≥ 4 gram positions (≥ 6 tokens); shorter docs selected no
    * fingerprint under the window spelling either (`pos ≤ n_sh − 4`
    * emptied them), so the filter is behavior-preserving. Per-doc
    * distinct ≡ global (doc_id, fp) distinct because doc_id is unique. */
  private def winnowFps(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.operators.Partitioning.spread(t(s, d, "documents"))
      .withColumn("graft__ws", TextOps.tokens(col("text")))
      .filter(size(col("graft__ws")) >= 6)
      .select(col("doc_id"),
        // fused positional 3-gram hash60 stream (one digest pass per
        // row — law-tested parity with the concat_ws/slice spelling)
        expr("transform(graft_pos_fps(graft__ws, 3), g -> g.fp)")
          .as("graft__hs"))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(
            sequence(lit(0), size(col("graft__hs")) - 4),
            i => array_min(slice(col("graft__hs"), i + lit(1), lit(4))))))
          .as("fp"))

  /** DuckDB twin of [[BpeTrainer]]: k unrolled rounds over a positional
    * symbol table. The merge application mirrors the Spark fold's
    * greedy-leftmost semantics positionally — matches are islanded
    * (consecutive matches only occur when the pair is (a,a)) and taken
    * at even offsets from the island start, which is exactly what
    * consuming left-to-right does. */
  private val bpeInitSql =
    """WITH wf AS (SELECT w, count(*) AS f FROM (
      |       SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |     WHERE length(w) >= 1 GROUP BY w),
      |s1 AS (SELECT w, f, pos, substr(w, pos, 1) AS sym FROM (
      |       SELECT w, f, unnest(generate_series(1, length(w))) AS pos
      |       FROM wf))""".stripMargin

  private def bpeRoundSql(r: Int, applyMerge: Boolean): String = {
    val pick =
      s"""pc$r AS (SELECT x.sym AS pa, y.sym AS pb, CAST(sum(x.f) AS BIGINT) AS n
         |  FROM s$r x JOIN s$r y ON x.w = y.w AND y.pos = x.pos + 1
         |  GROUP BY 1, 2),
         |o$r AS (SELECT pa, pb, n FROM pc$r ORDER BY n DESC, pa, pb LIMIT 1)""".stripMargin
    if (!applyMerge) pick
    else pick + "," +
      s"""
         |m$r AS (SELECT s.w, s.f, s.pos, s.sym,
         |    CASE WHEN s.sym = o.pa
         |         AND lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) = o.pb
         |    THEN 1 ELSE 0 END AS ms
         |  FROM s$r s CROSS JOIN o$r o),
         |i$r AS (SELECT *, CASE WHEN ms = 1
         |      THEN pos - row_number() OVER (PARTITION BY w, ms ORDER BY pos) END AS isl
         |  FROM m$r),
         |g$r AS (SELECT *, CASE WHEN ms = 1
         |      AND (pos - min(pos) OVER (PARTITION BY w, isl)) % 2 = 0
         |      THEN 1 ELSE 0 END AS tk
         |  FROM i$r),
         |x$r AS (SELECT w, f, pos,
         |    CASE WHEN tk = 1
         |         THEN sym || lead(sym) OVER (PARTITION BY w ORDER BY pos)
         |         ELSE sym END AS sym,
         |    coalesce(lag(tk) OVER (PARTITION BY w ORDER BY pos), 0) AS consumed
         |  FROM g$r),
         |s${r + 1} AS (SELECT w, f,
         |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym
         |  FROM x$r WHERE consumed = 0)""".stripMargin
  }

  /** The trained merge table (n67). */
  private def bpeTrainSql(k: Int): String = {
    val rounds = (1 to k).map(r => bpeRoundSql(r, applyMerge = r < k))
      .mkString(",\n")
    val out = (1 to k)
      .map(r => s"SELECT CAST($r AS BIGINT) AS merge_rank, " +
        s"pa AS sym_a, pb AS sym_b, n FROM o$r")
      .mkString("\nUNION ALL ")
    s"$bpeInitSql,\n$rounds\n$out"
  }

  /** The corpus encoded with all k merges applied, rolled up to
    * compression stats (n69). */
  private def bpeEncodeSql(k: Int): String = {
    val rounds = (1 to k).map(r => bpeRoundSql(r, applyMerge = true))
      .mkString(",\n")
    s"""$bpeInitSql,
       |$rounds,
       |agg AS (SELECT w, f, count(*) AS nsym FROM s${k + 1} GROUP BY w, f)
       |SELECT CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(f * length(w)) AS BIGINT) AS symbols_before,
       |  CAST(sum(f * nsym) AS BIGINT) AS symbols_after
       |FROM agg""".stripMargin
  }

  val all: Seq[QuerySpec] = Seq(

    // ----- n1: exact dedup (hash-grouped, not full-row shuffle) ---------
    // Dedup key is md5(text): the shuffle carries a 32-byte key + id per
    // row, never the document body — the 100 TB-safe exact-dedup shape.
    // Input is documents ∪ documents so the dedup actually collapses.
    QuerySpec(
      "n1_exact_dedup",
      """SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY md5(text)""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      docs.unionByName(docs)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    },

    // ----- n2: key-scoped dedup (keep best row per key) -----------------
    // Partitioned window, deterministic tiebreak — per-key shuffle only.
    QuerySpec(
      "n2_key_dedup",
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .withColumn("rn",
          row_number().over(
            Window.partitionBy(col("lang"), col("source"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "source", "n_chars")
    },

    // ----- n3: MinHash-LSH near-dup (banded buckets, exact verify) ------
    // Spark: 128 minhashes → 32 banded buckets → candidate pairs only
    // within buckets → exact Jaccard filter. Oracle: exact all-pairs
    // Jaccard via a shingle equi-join (small data makes that feasible;
    // at scale that join IS the quadratic blow-up LSH avoids).
    QuerySpec(
      "n3_minhash_neardup",
      s"""WITH $shingleCte,
         |${jaccardPairsSql(0.8)}""".stripMargin) { (s, d) =>
      MinHashNearDup.nearDupPairs(
        t(s, d, "documents"), "doc_id", "text", threshold = 0.8)
    },

    // ----- n18: n-gram (bigram) Jaccard dedup ---------------------------
    // Same LSH-candidates + exact-verify machinery at a different gram
    // width and threshold; the oracle is the exact bigram-Jaccard set.
    // Steeper bands than n3 (6 rows × 11): bigrams over a small
    // vocabulary give unrelated docs nontrivial baseline similarity, so
    // 4-row bands would admit a quadratic candidate flood; at 6 rows a
    // J=0.3 background pair is a candidate with p≈0.8% while the
    // corpus's real pairs (J≥0.9) are missed with p≈2.5e-4.
    QuerySpec(
      "n18_ngram_jaccard",
      s"""WITH ${shingleCteN(2)},
         |${jaccardPairsSql(0.6)}""".stripMargin) { (s, d) =>
      MinHashNearDup.nearDupPairs(
        t(s, d, "documents"), "doc_id", "text",
        threshold = 0.6, shingleWidth = 2, numHashes = 66, bands = 11)
    },

    // ----- n13: SimHash near-dup (pigeonhole bands, exact recall) -------
    QuerySpec(
      "n13_simhash_neardup",
      s"""WITH $simhashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM shash a JOIN shash b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin) {
      (s, d) =>
        SimHash.nearDupPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
    },

    // ----- n4: brute-force top-k cosine (the ANN correctness baseline) --
    QuerySpec(
      "n4_topk_cosine",
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |        (SELECT qv FROM q)), 6) AS sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.topKCosine(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "embedding", k = 20)
    },

    // ----- n5: LSH-bucketed ANN top-k (the scale path) ------------------
    // Search only the probe bucket (1/16 of the data in expectation);
    // bucket id from fixed ±1 hyperplanes shared with the oracle.
    QuerySpec(
      "n5_ann_lsh_topk",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 0),
         |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bkt
         |      FROM embeddings)
         |SELECT vec_id,
         |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
         |FROM b
         |WHERE bkt = (SELECT bkt FROM b WHERE vec_id = 0) AND vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.annTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "embedding", annPlanes, k = 10)
    },

    // ----- n6: embedding-cosine near-dup (label-blocked pair join) ------
    QuerySpec(
      "n6_embed_neardup",
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM embeddings a
        |JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) >= 0.4""".stripMargin) {
      (s, d) =>
        Similarity.blockedNearDupPairs(
          t(s, d, "embeddings"), "vec_id", "embedding", "label", threshold = 0.4)
    },

    // ----- n39: embedding near-dup clusters (operator composition) ------
    // DedupClusters over the n6 pair source instead of the MinHash one —
    // pair producer and cluster resolver compose freely, which is the
    // point of keeping them separate operators. Representative = min
    // vec_id per component, as in n30.
    QuerySpec(
      "n39_embed_clusters",
      """WITH RECURSIVE dup AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a
        |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
        |edges AS (SELECT id_a AS u, id_b AS v FROM dup
        |          UNION SELECT id_b, id_a FROM dup),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
        |SELECT u AS doc_id, least(u, min(v)) AS component,
        |  u = least(u, min(v)) AS keep
        |FROM reach GROUP BY u""".stripMargin) { (s, d) =>
      DedupClusters.keepOnePerCluster(
        Similarity.blockedNearDupPairs(
          t(s, d, "embeddings"), "vec_id", "embedding", "label",
          threshold = 0.4),
        "id_a", "id_b")
    },

    // ----- n7: JSON props extraction (multimodal metadata column) -------
    QuerySpec(
      "n7_props_json",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    // ----- n8: corpus text stats per (lang, source) ---------------------
    QuerySpec(
      "n8_text_stats",
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents GROUP BY lang, source""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("total_chars"),
          sum(TextOps.nTokens(col("text"))).as("total_tokens"),
          (sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_chars"))
    },

    // ----- n9: language-ID (marker-word scoring + argmax) ---------------
    // Profiles are pluggable marker-word groups; this corpus is
    // vocabulary-uniform across its lang labels, so the operator's value
    // here is the deterministic scoring/argmax mechanics (confusion
    // matrix output), not linguistic accuracy.
    QuerySpec(
      "n9_lang_id",
      """SELECT lang,
        |  CASE
        |    WHEN len(regexp_extract_all(text, '\b(the|a|key|row|line)\b')) >= len(regexp_extract_all(text, '\b(stream|batch|window|spark)\b'))
        |     AND len(regexp_extract_all(text, '\b(the|a|key|row|line)\b')) >= len(regexp_extract_all(text, '\b(table|join|query|scan)\b'))
        |    THEN 'en'
        |    WHEN len(regexp_extract_all(text, '\b(stream|batch|window|spark)\b')) >= len(regexp_extract_all(text, '\b(table|join|query|scan)\b'))
        |    THEN 'de'
        |    ELSE 'fr' END AS predicted,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val sEn = TextOps.matchCount(col("text"), "\\b(the|a|key|row|line)\\b")
      val sDe = TextOps.matchCount(col("text"), "\\b(stream|batch|window|spark)\\b")
      val sFr = TextOps.matchCount(col("text"), "\\b(table|join|query|scan)\\b")
      t(s, d, "documents")
        .select(col("lang"),
          when(sEn >= sDe && sEn >= sFr, "en")
            .when(sDe >= sFr, "de")
            .otherwise("fr").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    },

    // ----- n10: quality scoring (length/stopword/word-shape bands) ------
    // All ratios are single divisions of exact integers → bit-identical
    // doubles cross-engine, so the band cutoffs compare identically.
    QuerySpec(
      "n10_quality_score",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')) AS mean_wlen,
        |  CASE
        |    WHEN len(string_split(text, ' ')) >= 30
        |     AND CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS DOUBLE)
        |         / len(string_split(text, ' ')) <= 0.15
        |    THEN 'high'
        |    WHEN len(string_split(text, ' ')) >= 15 THEN 'medium'
        |    ELSE 'low' END AS band
        |FROM documents""".stripMargin) { (s, d) =>
      val nt = TextOps.nTokens(col("text"))
      val nStop = TextOps.matchCount(col("text"), "\\b(the|a)\\b")
      val stopRatio = nStop.cast("double") / nt
      t(s, d, "documents").select(
        col("doc_id"),
        nt.as("n_tokens"),
        stopRatio.as("stop_ratio"),
        ((length(col("text")).cast("long") - nt + 1).cast("double") / nt)
          .as("mean_wlen"),
        when(nt >= 30 && stopRatio <= 0.15, "high")
          .when(nt >= 15, "medium")
          .otherwise("low").as("band"))
    },

    // ----- n11: token counting (whitespace + BPE-ish regex pieces) ------
    QuerySpec(
      "n11_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_obs
        |FROM documents""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.nTokens(col("text")).as("ws_tokens"),
        TextOps.matchCount(col("text"), "[a-z]+|[0-9]+|[^a-z0-9 ]").as("re_tokens"),
        length(col("text")).cast("long").as("n_chars_obs"))
    },

    // ----- n12: document fingerprinting (md5 + min/max shingle sketch) --
    QuerySpec(
      "n12_fingerprint",
      s"""WITH $shingleCte,
         |h AS (SELECT doc_id, ${hex60("shingle")} AS v FROM sh)
         |SELECT d.doc_id,
         |  md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS fp_md5,
         |  min(h.v) AS min_h, max(h.v) AS max_h
         |FROM documents d JOIN h ON h.doc_id = d.doc_id
         |GROUP BY d.doc_id, md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))""".stripMargin) {
      (s, d) =>
        graft.operators.Partitioning.spread(t(s, d, "documents"))
          .select(
            col("doc_id"),
            md5(TextOps.normalized(col("text"))).as("fp_md5"),
            TextOps.tokens(col("text")).as("ws"))
          .select(
            col("doc_id"), col("fp_md5"),
            explode(TextOps.shinglesFromTokens(col("ws"), 3)).as("s"))
          // hash projected once: passing the expression to both min()
          // and max() would evaluate md5+conv twice per row
          .withColumn("h", TextOps.hexHash60(col("s")))
          .groupBy(col("doc_id"), col("fp_md5"))
          .agg(min(col("h")).as("min_h"), max(col("h")).as("max_h"))
    },

    // ----- n14: tumbling-window event aggregation -----------------------
    QuerySpec(
      "n14_event_tumbling",
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      EventStream.tumblingAgg(t(s, d, "events"), "ts", "1 hour")
    },

    // ----- n16: sliding-window event counts -----------------------------
    QuerySpec(
      "n16_event_sliding",
      """SELECT ws AS window_start, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
        |           - k * (INTERVAL 15 MINUTE) AS ws
        |  FROM events, unnest([0, 1, 2, 3]) AS t(k))
        |GROUP BY ws""".stripMargin) { (s, d) =>
      EventStream.slidingCounts(t(s, d, "events"), "ts", "1 hour", "15 minutes")
    },

    // ----- n15: sessionization (30-minute gap rule) ---------------------
    QuerySpec(
      "n15_event_sessions",
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR date_diff('second',
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |  THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, ts,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  date_diff('second', min(ts), max(ts)) AS span_s
        |FROM s GROUP BY user_id, session_id""".stripMargin) { (s, d) =>
      Sessionize.sessions(t(s, d, "events"), "ts", gapMinutes = 30)
    },

    // ----- n20: as-of join (purchase ← latest prior view per user) ------
    // Spark has no native as-of join; AsofJoin composes it from a
    // union + running-last window (one shuffle). The oracle mirrors the
    // same construction with DuckDB's IGNORE NULLS last_value — both
    // order by (ts, kind, view_id) so equal-timestamp behavior is
    // pinned: views sort before purchases (inclusive bound), the
    // highest view_id wins a view-view tie.
    QuerySpec(
      "n20_asof_join",
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
        |           FROM events WHERE event_type IN ('view', 'purchase')),
        |w AS (SELECT event_id, user_id, ts, kind,
        |        last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |          OVER (PARTITION BY user_id
        |                ORDER BY ts, kind, CASE WHEN kind = 0 THEN event_id END
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id
        |      FROM e)
        |SELECT event_id, user_id, ts AS purchase_ts, view_id
        |FROM w WHERE kind = 1""".stripMargin) { (s, d) =>
      val events = t(s, d, "events")
      graft.operators.AsofJoin.asofBackward(
        left = events.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts")),
        right = events.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id")),
        key = "user_id", leftTs = "purchase_ts", rightTs = "ts",
        rightValue = "event_id", rightTieBreak = "event_id",
        outCol = "view_id")
    },

    // ----- n23: per-group quota dedup (source balancing) ----------------
    // Keep the N best docs per group — the training-data move for
    // capping over-represented sources; per-key windowed shuffle only.
    QuerySpec(
      "n23_quota_dedup",
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 3""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .withColumn("rn",
          row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") <= 3)
        .select("doc_id", "lang", "n_chars")
    },

    // ----- n24: deterministic hash sampling (stratified-safe) -----------
    // Sampling at 100 TB must be deterministic and coordination-free:
    // hash the key, keep a residue class. md5-derived so the oracle
    // reproduces the exact sample (never engine-local hash functions).
    QuerySpec(
      "n24_hash_sample",
      s"""SELECT doc_id, lang, source
         |FROM documents
         |WHERE ${hex60("CAST(doc_id AS VARCHAR)")} % 10 < 2""".stripMargin) {
      (s, d) =>
        t(s, d, "documents")
          .filter(TextOps.hexHash60(col("doc_id").cast("string")) % 10 < 2)
          .select("doc_id", "lang", "source")
    },

    // ----- n26: vocabulary document-frequency stats ----------------------
    // The df half of tf-idf as exact integers (idf's log is engine-libm
    // territory — exact counts and ratios are the portable core).
    QuerySpec(
      "n26_token_df",
      """WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |n AS (SELECT count(*) AS total FROM documents)
        |SELECT token, count(*) AS df,
        |  CAST((SELECT total FROM n) AS DOUBLE) / count(*) AS inv_df,
        |  count(*) >= 0.5 * (SELECT total FROM n) AS is_stopword_like
        |FROM w GROUP BY token""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      // The corpus total joins in as a broadcast 1-row aggregate, so the
      // whole query is ONE lazy plan — a driver-side docs.count() here
      // would fire an eager extra scan before the real job.
      val total = docs.agg(count(lit(1)).as("graft__total"))
      docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .distinct()
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(total))
        .select(col("token"), col("df"),
          (col("graft__total").cast("double") / col("df")).as("inv_df"),
          (col("df") >= lit(0.5) * col("graft__total")).as("is_stopword_like"))
    },

    // ----- n27: ArrayType round-trip via canonical serialization --------
    // Exercises the array surface as ARRAYS (build → distinct → sort),
    // then serializes with a fixed delimiter at the boundary: the
    // driver's pandas compare sorts result cells and cannot order raw
    // array values (r02's n21 "unhashable ndarray"), but a canonically
    // sorted join-string is deterministic on both engines (binary
    // collation in Spark UTF8 and DuckDB default).
    QuerySpec(
      "n27_token_array",
      """SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|')
        |    AS tokens
        |FROM documents""".stripMargin) { (s, d) =>
      val distinctToks = array_distinct(TextOps.tokens(col("text")))
      t(s, d, "documents").select(
        col("doc_id"),
        size(distinctToks).as("n_distinct"),
        array_join(array_sort(distinctToks), "|").as("tokens"))
    },

    // ----- n28: embedding L2-normalize + int8 quantize -------------------
    // The standard pre-index transform for a vector store: unit-norm the
    // vector, then quantize each component to int8 range. The norm is a
    // sequential left-fold (Spark `aggregate` HOF ≡ DuckDB
    // list_aggregate 'sum' — same summation ORDER, so the doubles are
    // bit-identical and floor() quantization cannot straddle an ulp).
    // Normalized values surface rounded to 6dp; quantized as exact ints.
    QuerySpec(
      "n28_embed_normquant",
      """SELECT vec_id, pos, round(val / norm, 6) AS nval,
        |  CAST(floor(val / norm * 127.0) AS INT) AS q
        |FROM (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(e, 1) - 1 AS INT) AS pos,
        |    unnest(e) AS val,
        |    sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS norm
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |        FROM embeddings WHERE vec_id < 50))
        |WHERE norm > 0""".stripMargin) { (s, d) =>
      val e = col("embedding").cast("array<double>")
      t(s, d, "embeddings")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), e.as("e"),
          sqrt(aggregate(transform(e, x => x * x), lit(0.0), (acc, x) => acc + x))
            .as("norm"))
        .select(col("vec_id"), col("norm"),
          posexplode(col("e")).as(Seq("pos", "val")))
        .filter(col("norm") > 0)
        .select(col("vec_id"), col("pos"),
          round(col("val") / col("norm"), 6).as("nval"),
          floor(col("val") / col("norm") * 127.0).cast("int").as("q"))
    },

    // ----- n29: token-repetition quality signal --------------------------
    // The common-crawl-style repetition filter: fraction of the document
    // its most frequent token occupies. Two-level aggregation — per
    // (doc, token) counts, then per-doc max/sum — both stages partial-
    // aggregate map-side; the shuffle carries (doc, token, count), never
    // text. The ratio divides exact integers, so it is bit-identical
    // across engines with no rounding.
    QuerySpec(
      "n29_repetition_ratio",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |cnt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(max(c) AS BIGINT) AS max_tok,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS rep_ratio
        |FROM cnt GROUP BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("max_tok"))
        .select(col("doc_id"), col("n_tokens"), col("max_tok"),
          (col("max_tok").cast("double") / col("n_tokens")).as("rep_ratio"))
    },

    // ----- n25: generator — posexplode of the embedding column ----------
    // The one generator-shaped op in the surface (SURVEY §2.5): array →
    // (row, position, value) rows. Values pass through exactly.
    QuerySpec(
      "n25_posexplode",
      """SELECT vec_id,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |  unnest(CAST(embedding AS DOUBLE[])) AS val
        |FROM embeddings WHERE vec_id < 50""".stripMargin) { (s, d) =>
      t(s, d, "embeddings")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "val")))
    },

    // ----- n21: array-function pack over the embedding column -----------
    // Pure array ops (no arithmetic) — values pass through exactly.
    // The slice is surfaced as scalar element columns (not an array
    // column): the driver's compare sorts the result in pandas, which
    // cannot order array cells (r02 failed with "unhashable ndarray").
    QuerySpec(
      "n21_array_funcs",
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(list_aggregate(CAST(embedding AS DOUBLE[]), 'max') AS DOUBLE) AS vmax,
        |  CAST(list_aggregate(CAST(embedding AS DOUBLE[]), 'min') AS DOUBLE) AS vmin,
        |  CAST(embedding[1] AS DOUBLE) AS e1,
        |  CAST(embedding[2] AS DOUBLE) AS e2,
        |  CAST(embedding[3] AS DOUBLE) AS e3
        |FROM embeddings""".stripMargin) { (s, d) =>
      val first3 = slice(col("embedding").cast("array<double>"), 1, 3)
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        array_max(col("embedding").cast("array<double>")).as("vmax"),
        array_min(col("embedding").cast("array<double>")).as("vmin"),
        // try_element_at, not element_at: under Spark 4's default ANSI
        // mode an out-of-range index THROWS, while the oracle's
        // embedding[3] yields NULL — try_ matches the SQL semantics for
        // short/degenerate embeddings.
        try_element_at(first3, lit(1)).as("e1"),
        try_element_at(first3, lit(2)).as("e2"),
        try_element_at(first3, lit(3)).as("e3"))
    },

    // ----- n22: exact order statistics (median) per event type ----------
    QuerySpec(
      "n22_order_stats",
      """SELECT event_type, count(*) AS n,
        |  min(value) AS vmin, max(value) AS vmax,
        |  median(value) AS vmed
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"),
          median(col("value")).as("vmed"))
    },

    // ----- n19: HLL sketch distinct (approx_count_distinct) -------------
    // The approx value itself is engine-specific, so the oracle checks
    // the exact count plus the assertion that the HLL estimate landed
    // within a 15% band (deterministic for a fixed input + algorithm;
    // a drift outside the band fails the gate and should).
    QuerySpec(
      "n19_approx_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS exact_n,
        |  true AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_n"),
          approx_count_distinct(col("user_id"), 0.05).as("graft__approx"))
        .select(col("event_type"), col("exact_n"),
          (abs(col("graft__approx") - col("exact_n")) <=
            col("exact_n") * 0.15).as("approx_ok"))
    },

    // ----- n17: multimodal binary-column metadata -----------------------
    // Payload = utf-8 bytes of text (the corpus is ascii, so the DuckDB
    // twin can mirror byte ops through encode()); see Multimodal for the
    // stubbed decode stage exercised in unit tests.
    QuerySpec(
      "n17_multimodal_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE WHEN hex(encode(substr(text, 1, 4))) = '89504E47' THEN 'png'
        |       WHEN hex(encode(substr(text, 1, 2))) = 'FFD8' THEN 'jpeg'
        |       WHEN hex(encode(substr(text, 1, 4))) = '52494646' THEN 'riff'
        |       WHEN hex(encode(substr(text, 1, 4))) = '25504446' THEN 'pdf'
        |       ELSE 'unknown' END AS format,
        |  md5(text) AS content_md5,
        |  md5(substr(text, 1, 64)) AS frame0_md5,
        |  md5(substr(text, 65, 64)) AS frame1_md5,
        |  array_to_string(list_transform(range(0, 4), i -> md5(substr(text, CAST(i * 64 + 1 AS INT), 64))), ',') AS frames_csv
        |FROM documents""".stripMargin) { (s, d) =>
      // frames is joined to one string column: the driver's compare
      // sorts in pandas, which cannot order array cells (r02 failure).
      Multimodal.sampleFrames(
        Multimodal.withMediaMeta(
          t(s, d, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "payload"),
        "payload", frameBytes = 64, nFrames = 4)
        .select(col("doc_id"), col("n_bytes"), col("format"),
          col("content_md5"), col("frame0_md5"), col("frame1_md5"),
          array_join(col("frames"), ",").as("frames_csv"))
    },

    // ----- n30: near-dup clusters + one representative per cluster ------
    // The step that makes near-dup PAIRS actionable: connected
    // components over the n3 pair graph, canonical representative = min
    // doc id. Spark resolves the fixpoint iteratively (DedupClusters —
    // no recursion in Catalyst); the oracle is DuckDB's recursive-CTE
    // transitive closure over the same exact-Jaccard pairs.
    QuerySpec(
      "n30_dedup_clusters",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, least(u, min(v)) AS component,
         |  u = least(u, min(v)) AS keep
         |FROM reach GROUP BY u""".stripMargin) { (s, d) =>
      DedupClusters.keepOnePerCluster(
        MinHashNearDup.nearDupPairs(
          t(s, d, "documents"), "doc_id", "text", threshold = 0.8),
        "id_a", "id_b")
    },

    // ----- n31: tf-idf top terms per document ---------------------------
    // The idf is kept as the exact rational N/df (no log — engine-libm
    // territory, see n26), so every score is ONE double division of
    // exact integer products: bit-identical across engines, and the
    // (score DESC, token ASC) order is total. Corpus total N rides in
    // as a broadcast 1-row aggregate; df joins on the token — the
    // vocabulary-sized shuffle every tf-idf computation pays.
    QuerySpec(
      "n31_tfidf_topk",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |nt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    CAST(c * n AS DOUBLE) / (n_tokens * df) AS tfidf
        |  FROM tf JOIN nt USING (doc_id) JOIN dfreq USING (token) CROSS JOIN tot)
        |SELECT doc_id, token, tfidf FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, token) <= 3""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val total = docs.agg(count(lit(1)).as("graft__n"))
        // per-doc token totals come from the array length AT SCAN TIME
        // (Σ per-token counts ≡ array size — no window, no second
        // aggregation); per-token df is ONE window over tf. The
        // scan→explode→count subtree is computed exactly once and the
        // plan is linear — a join formulation would recompute it per
        // join input, a second window would shuffle tf twice.
        val tf = docs
          .withColumn("graft__ws", TextOps.tokens(col("text")))
          .select(col("doc_id"),
            size(col("graft__ws")).cast("long").as("n_tokens"),
            explode(col("graft__ws")).as("token"))
          .groupBy(col("doc_id"), col("n_tokens"), col("token"))
          .agg(count(lit(1)).as("c"))
        tf
          .withColumn("df",
            count(lit(1)).over(Window.partitionBy(col("token"))))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("token"),
            ((col("c") * col("graft__n")).cast("double") /
              (col("n_tokens") * col("df"))).as("tfidf"))
          .withColumn("graft__rn",
            row_number().over(
              Window.partitionBy(col("doc_id"))
                .orderBy(col("tfidf").desc, col("token"))))
          .filter(col("graft__rn") <= 3)
          .drop("graft__rn")
    },

    // ----- n32: stratified (per-language) hash sampling ------------------
    // Corpus rebalancing: down-sample the over-represented language,
    // keep more of the rest. Rates live in a broadcast config dim (the
    // realistic shape — rates change without redeploying), the keep
    // decision is the same md5-residue as n24: deterministic,
    // coordination-free, and pushed to the scan side of the join.
    QuerySpec(
      "n32_stratified_sample",
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE lang IN ('en', 'de', 'es', 'fr', 'zh')
         |  AND ${hex60("CAST(doc_id AS VARCHAR)")} % 10000 <
         |    CASE WHEN lang = 'en' THEN 1000 ELSE 2500 END""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val rates = Seq(
          ("en", 1000L), ("de", 2500L), ("es", 2500L),
          ("fr", 2500L), ("zh", 2500L)).toDF("lang", "graft__keep")
        t(s, d, "documents")
          .join(broadcast(rates), Seq("lang"))
          .filter(
            TextOps.hexHash60(col("doc_id").cast("string")) % 10000 <
              col("graft__keep"))
          .select(col("doc_id"), col("lang"), col("source"))
    },

    // ----- n33: corpus-level top-k n-grams ------------------------------
    // Global bigram document-frequencies → top 20. The aggregation
    // partial-combines map-side and the top-k is TakeOrderedAndProject
    // (k rows per partition reach the driver merge, never the full
    // vocabulary); (df DESC, bigram ASC) makes the limited SET total.
    QuerySpec(
      "n33_ngram_topk",
      s"""WITH ${shingleCteN(2)}
         |SELECT shingle AS bigram, count(*) AS df
         |FROM sh GROUP BY 1
         |ORDER BY df DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .withColumn("graft__ws", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          explode(TextOps.shinglesFromTokens(col("graft__ws"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram"))
        .limit(20)
    },

    // ----- n34: per-group z-score outliers ------------------------------
    // Length-distribution outlier filter, the standard quality gate
    // shape: per-language moments from exact integer sums (count, Σx,
    // Σx²), then a broadcast join back over the fact — two passes, no
    // window over the corpus. Every float op (mean, variance, sqrt,
    // divide) is the identical IEEE expression tree on both engines
    // over identical integer inputs, so z is bit-identical and the
    // |z| >= 2 cut is deterministic.
    QuerySpec(
      "n34_length_outliers",
      """WITH st AS (
        |  SELECT lang, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sq
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars, round(z, 6) AS z FROM (
        |  SELECT doc_id, lang, n_chars,
        |    (n_chars - CAST(s AS DOUBLE) / n) /
        |      sqrt(CAST(sq AS DOUBLE) / n -
        |           (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS z
        |  FROM documents JOIN st USING (lang)
        |  WHERE n * sq > s * s)
        |WHERE abs(z) >= 2.0""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val st = docs
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("s"),
          sum(col("n_chars") * col("n_chars")).as("sq"))
      val mean = col("s").cast("double") / col("n")
      val z = (col("n_chars") - mean) /
        sqrt(col("sq").cast("double") / col("n") - mean * mean)
      docs
        .join(broadcast(st), Seq("lang"))
        // zero-variance guard as an EXACT integer predicate (n·Σx² >
        // (Σx)² ⟺ var > 0): a constant-length group — e.g. a lang with
        // one doc — would give z = 0/0 = NaN, and NaN compares greater
        // than everything, so every such row would leak through the
        // |z| cut on both engines.
        .filter(col("n") * col("sq") > col("s") * col("s"))
        .withColumn("graft__z", z)
        .filter(abs(col("graft__z")) >= 2.0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("graft__z"), 6).as("z"))
    },

    // ----- n35: IVF ANN, exhaustive probe (≡ brute force) ---------------
    // Registers the inverted-file ANN path against an oracle: with
    // nprobe = nlist the probe set covers every cell, so the result is
    // exactly the brute-force top-k and the oracle needs no centroid
    // arithmetic (cell assignment cancels out). The partial-probe
    // speed path (nprobe < nlist) is covered by SimilaritySpec, which
    // proves exhaustive-probe ≡ topKCosine and subset behavior.
    QuerySpec(
      "n35_ann_ivf",
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |        (SELECT qv FROM q)), 6) AS sim
        |FROM embeddings WHERE vec_id <> 1
        |ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(
        emb.filter(col("vec_id") =!= 1), "vec_id", "embedding",
        emb.filter(col("vec_id") === 1), "embedding",
        centroids = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble)),
        nprobe = 4, k = 15)
    },

    // ----- n43: IVF ANN, partial probe (the speed path) -----------------
    // n35 with nprobe < nlist: cell assignment now MATTERS (only the 2
    // cells nearest the query are searched), so the oracle reproduces
    // the whole index — per-vector argmin cell, query probe set, member
    // filter — from the same shared centroid constants (see ivfRankSql
    // for the argmin ≡ argmax-dot equivalence on ±1 centroids). This is
    // the plan that scales: each query reads nprobe/nlist of the corpus.
    QuerySpec(
      "n43_ann_ivf_probe",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 2),
         |p AS (SELECT list_transform(${ivfRankSql("qv")}, s -> s.i)[1:2] AS ps
         |      FROM q),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings)
         |SELECT vec_id,
         |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
         |FROM c
         |WHERE list_contains((SELECT ps FROM p), cell) AND vec_id <> 2
         |ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(
        emb.filter(col("vec_id") =!= 2), "vec_id", "embedding",
        emb.filter(col("vec_id") === 2), "embedding",
        centroids = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble)),
        nprobe = 2, k = 15)
    },

    // ----- s23: IVF index as WAREHOUSE LAYOUT (partition-pruned probe) --
    // n35/n43 compute the cell assignment per query; at 100 TB an IVF
    // index IS a table layout — vectors written partitioned by their
    // coarse-quantizer cell, so a probe reads nprobe/nlist of the data
    // via CATALOG partition pruning (the s13 mechanism), touching no
    // other file. Same cells, same ranking, same answer as n43 — what
    // changes is WHERE the pruning happens: at the scan, before any
    // row is read. The probe set is computed driver-side from the
    // query point: the query vector is the ANN API's INPUT (a serving
    // path receives it as a literal), and the probe-cell argmin is
    // pure arithmetic on 16 centroid constants — not a data-path
    // collect. Plan-pinned: PartitionFilters carries the probe set.
    QuerySpec(
      "s23_ivf_layout",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 2),
         |p AS (SELECT list_transform(${ivfRankSql("qv")}, s -> s.i)[1:2] AS ps
         |      FROM q),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings)
         |SELECT vec_id,
         |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
         |FROM c
         |WHERE list_contains((SELECT ps FROM p), cell) AND vec_id <> 2
         |ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val path = "target/sinks/s23_ivf"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val emb = t(s, d, "embeddings")
      graft.operators.IvfLayout.build(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", path, cents)
      val qv = emb.filter(col("vec_id") === 2)
        .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0)
      graft.operators.IvfLayout.topK(
        s, path, qv, nprobe = 2, k = 15, excludeId = Some(2L))
    },

    // ----- s48: IVF layout incremental refresh under retry --------------
    // The ANN side of the maintenance story (the s30/n174 discipline
    // applied to the s23 layout): build on 90% of the vectors, refresh
    // with the rest — assigned by the STORED centroids, written as a
    // batch-keyed generation — with the batch retried clean AND
    // replayed commit-less. A duplicated generation would duplicate
    // candidate rows straight into the top-k; the oracle computes the
    // probe answer over the FULL vector set from scratch, so
    // refresh∘retry∘replay ≡ rebuild through the served ranking.
    QuerySpec(
      "s48_ivf_refresh",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 2),
         |p AS (SELECT list_transform(${ivfRankSql("qv")}, s -> s.i)[1:2] AS ps
         |      FROM q),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings)
         |SELECT vec_id,
         |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
         |FROM c
         |WHERE list_contains((SELECT ps FROM p), cell) AND vec_id <> 2
         |ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val path = "target/sinks/s48_ivf"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val delta = emb.filter(col("vec_id") % 10 === 0)
      graft.operators.IvfLayout.build(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        path, cents)
      graft.operators.IvfLayout.refresh(
        delta, "vec_id", "embedding", path, batchId = "b1")
      // clean retry, then a commit-less partial-failure replay
      graft.operators.IvfLayout.refresh(
        delta, "vec_id", "embedding", path, batchId = "b1")
      graft.operators.LsmLayout.dropCommit(s, path, "b1")
      graft.operators.IvfLayout.refresh(
        delta, "vec_id", "embedding", path, batchId = "b1")
      val qv = emb.filter(col("vec_id") === 2)
        .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0)
      graft.operators.IvfLayout.topK(
        s, path, qv, nprobe = 2, k = 15, excludeId = Some(2L))
    },

    // ----- s49: right-to-be-forgotten deletes in the IVF layout ---------
    // The s40/s44/s45 forget discipline on the ANN side: the forget-set
    // (vec_id % 5 = 1) is an id list anti-joined on every read — the
    // probe answers as if the vectors never existed, before any
    // physical rewrite (IvfLayoutSpec proves compact drops them and
    // serves identically). Oracle: the probe ranking over the
    // remaining vectors — delete ≡ rebuild through the served answer.
    QuerySpec(
      "s49_ivf_forget",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 2),
         |p AS (SELECT list_transform(${ivfRankSql("qv")}, s -> s.i)[1:2] AS ps
         |      FROM q),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings WHERE vec_id % 5 <> 1)
         |SELECT vec_id,
         |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
         |FROM c
         |WHERE list_contains((SELECT ps FROM p), cell) AND vec_id <> 2
         |ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val path = "target/sinks/s49_ivf"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      graft.operators.IvfLayout.build(emb, "vec_id", "embedding", path, cents)
      graft.operators.IvfLayout.tombstone(
        emb.filter(col("vec_id") % 5 === 1).select("vec_id"),
        "vec_id", path, batchId = "d1")
      val qv = emb.filter(col("vec_id") === 2)
        .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0)
      graft.operators.IvfLayout.topK(
        s, path, qv, nprobe = 2, k = 15, excludeId = Some(2L))
    },

    // ----- n38: sequence packing (docs → fixed-token-budget packs) ------
    // The batch-assembly step of a training pipeline: assign documents
    // to 2048-token packs by running offset. Packing is sequential by
    // nature, so it is SHARDED — the running sum is a window
    // partitioned by shard (doc_id mod 32), never a global order: each
    // shard packs independently, which is exactly how a distributed
    // packing job works (one writer task per shard). All arithmetic is
    // exact integer (sum, div), bit-identical across engines.
    QuerySpec(
      "n38_sequence_pack",
      """WITH t AS (SELECT doc_id, doc_id % 32 AS shard,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |        sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                         ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT doc_id, shard, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS pack
        |FROM c""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 32).as("shard"),
          TextOps.nTokens(col("text")).as("n_tok"))
        .withColumn("graft__cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tok"),
          expr("(graft__cum - n_tok) div 2048").as("pack"))
    },

    // ----- n37: quantile sketch (approx_percentile) with exact gate -----
    // The quantile twin of n19's HLL pattern: the sketch value itself is
    // engine-specific (Spark's GK summary picks real elements within a
    // rank-error bound), so the oracle carries the EXACT interpolated
    // percentiles — computable on both engines (Spark `percentile` ≡
    // DuckDB `quantile_cont`, proven by n22's median) — plus the
    // assertion that the sketch landed within a 5% relative band. At
    // 100 TB only the sketch path is viable (fixed-size mergeable
    // state; the exact path needs a per-group sort), which is exactly
    // why it must be continuously gated against the exact answer at
    // test scale.
    QuerySpec(
      "n37_approx_quantile",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  true AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          percentile(col("value"), lit(0.5)).as("graft__p50"),
          percentile(col("value"), lit(0.9)).as("graft__p90"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("graft__a50"),
          percentile_approx(col("value"), lit(0.9), lit(1000)).as("graft__a90"))
        .select(
          col("event_type"),
          round(col("graft__p50"), 6).as("p50"),
          round(col("graft__p90"), 6).as("p90"),
          (abs(col("graft__a50") - col("graft__p50")) <=
            abs(col("graft__p50")) * 0.05 &&
            abs(col("graft__a90") - col("graft__p90")) <=
              abs(col("graft__p90")) * 0.05).as("approx_ok"))
    },

    // ----- n41: winnowing fingerprints (window-min shingle selection) ---
    // The MOSS algorithm (Schleimer et al., SIGMOD'03): positional
    // shingle hashes → minimum per sliding window of w → distinct
    // selected fingerprints. Guarantees every match of length ≥ w+n-1
    // shares a fingerprint while storing ~2/(w+1) of the hashes — the
    // storage-bounded alternative to full shingle sets for containment
    // detection. Positional (NOT distinct) shingles feed the window;
    // hashes are the portable md5-derived 60-bit ones. Per-doc window,
    // per-doc shuffle only.
    QuerySpec(
      "n41_winnow_fingerprint",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, pos,
         |    ${hex60("w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win")} AS h,
         |    count(*) OVER (PARTITION BY doc_id) AS n_tok
         |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY pos <= n_tok - 2),
         |wm AS (
         |  SELECT doc_id, pos,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    count(*) OVER (PARTITION BY doc_id) AS n_sh
         |  FROM sh QUALIFY pos <= n_sh - 3)
         |SELECT DISTINCT doc_id, fp FROM wm""".stripMargin) { (s, d) =>
      winnowFps(s, d)
    },

    // ----- n42: containment candidates from shared winnow fingerprints --
    // The downstream use of n41: docs sharing ≥ 5 selected fingerprints
    // are containment/overlap candidates. The self-join is on the
    // FINGERPRINT (≈ 2/(w+1) of the shingles), not the full shingle
    // set — winnowing's whole point is to make this join affordable at
    // corpus scale while guaranteeing long matches still collide.
    QuerySpec(
      "n42_winnow_candidates",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, pos,
         |    ${hex60("w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win")} AS h,
         |    count(*) OVER (PARTITION BY doc_id) AS n_tok
         |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY pos <= n_tok - 2),
         |wm AS (
         |  SELECT doc_id, pos,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    count(*) OVER (PARTITION BY doc_id) AS n_sh
         |  FROM sh QUALIFY pos <= n_sh - 3),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wm)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin) { (s, d) =>
      // persisted: both sides of the self-join read it — with the
      // map-only winnowFps there is no upstream exchange for
      // ReuseExchange to share, so an unpersisted frame would run the
      // whole hash/window-min chain twice
      val fps = winnowFps(s, d)
        .transform(graft.operators.Materialize.shared)
      val a = fps.select(col("doc_id").as("id_a"), col("fp"))
      val b = fps.select(col("doc_id").as("id_b"), col("fp"))
      a.join(b, Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
    },

    // ----- n40: the whole corpus pipeline, end to end --------------------
    // CorpusPipeline.trainingSet over the harness documents: exact
    // dedup → near-dup cluster representatives → decontamination vs
    // the src0 benchmark → token-count gate → (keep-all sampling) →
    // sharded sequence packing. The oracle rebuilds every stage in SQL
    // from the same proven pieces (md5-window dedup, exact-Jaccard
    // recursive closure ≡ n30, 5-gram collision ≡ n36, running-offset
    // packing ≡ n38) — one hash-compared query certifies the composed
    // program, not just its parts.
    QuerySpec(
      "n40_corpus_pipeline",
      s"""WITH RECURSIVE
         |raw AS (SELECT doc_id, text, lang, source FROM documents
         |        WHERE source <> 'src0'),
         |bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
         |ex AS (SELECT doc_id, text, lang, source FROM (
         |  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |  FROM raw) WHERE doc_id = keep_id),
         |toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM ex),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    w || ' ' || lead(w, 1) OVER win3 || ' ' || lead(w, 2) OVER win3 AS shingle
         |  FROM toks WINDOW win3 AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY shingle IS NOT NULL),
         |shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pair AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT id_a, id_b FROM pair
         |  JOIN shn ca ON ca.doc_id = id_a
         |  JOIN shn cb ON cb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (
         |  SELECT u FROM reach GROUP BY u HAVING u <> least(u, min(v)))),
         |t5 AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM nd),
         |sh5 AS (
         |  SELECT DISTINCT doc_id,
         |    w || ' ' || lead(w, 1) OVER win5 || ' ' || lead(w, 2) OVER win5
         |      || ' ' || lead(w, 3) OVER win5 || ' ' || lead(w, 4) OVER win5 AS shingle
         |  FROM t5 WINDOW win5 AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY shingle IS NOT NULL),
         |tb AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM bench),
         |b5 AS (
         |  SELECT DISTINCT
         |    w || ' ' || lead(w, 1) OVER winb || ' ' || lead(w, 2) OVER winb
         |      || ' ' || lead(w, 3) OVER winb || ' ' || lead(w, 4) OVER winb AS shingle
         |  FROM tb WINDOW winb AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY shingle IS NOT NULL),
         |cl AS (SELECT * FROM nd WHERE doc_id NOT IN (
         |  SELECT DISTINCT doc_id FROM sh5
         |  WHERE shingle IN (SELECT shingle FROM b5))),
         |g AS (SELECT doc_id, lang, source,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        doc_id % 32 AS shard
         |      FROM cl
         |      WHERE CAST(len(string_split(text, ' ')) AS BIGINT)
         |        BETWEEN 40 AND 100000),
         |c AS (SELECT doc_id, lang, source, n_tokens, shard,
         |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                            ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM g)
         |SELECT doc_id, lang, source, n_tokens, shard,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack
         |FROM c""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.pipeline.CorpusPipeline.trainingSet(
        docs.filter(col("source") =!= "src0")
          .select("doc_id", "text", "lang", "source"),
        docs.filter(col("source") === "src0"),
        graft.pipeline.CorpusPipeline.Config(minTokens = 40L))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("shard"), col("pack"))
    },

    // ----- n36: benchmark decontamination (exact n-gram collision) ------
    // NOT near-dup dedup: eval-set hygiene. Docs from source 'src0'
    // stand in as the benchmark; any corpus doc sharing a word 5-gram
    // with it is flagged with exact collision stats. The benchmark
    // shingle set is broadcast (eval suites are tiny vs a 100 TB
    // corpus), so the corpus side aggregates partition-local in ONE
    // pass — see operators/Decontaminate.
    QuerySpec(
      "n36_contamination",
      s"""WITH ${shingleCteN(5)},
         |lab AS (SELECT doc_id, source FROM documents),
         |bench AS (SELECT DISTINCT shingle FROM sh JOIN lab USING (doc_id)
         |          WHERE source = 'src0'),
         |corp AS (SELECT s.doc_id, s.shingle FROM sh s JOIN lab l USING (doc_id)
         |         WHERE l.source <> 'src0')
         |SELECT doc_id,
         |  CAST(count(*) FILTER (WHERE shingle IN (SELECT shingle FROM bench)) AS BIGINT)
         |    AS n_hits,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(*) FILTER (WHERE shingle IN (SELECT shingle FROM bench)) AS DOUBLE)
         |    / count(*) AS hit_ratio
         |FROM corp GROUP BY doc_id
         |HAVING n_hits > 0""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      Decontaminate.collisionStats(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5)
    },

    // ----- n44: skew-proof distinct count (two-phase) -------------------
    // count(DISTINCT x) per low-cardinality key is the canonical skew
    // trap: a direct per-key distinct shuffles every row of a hot key to
    // one reducer. The scale-safe form is two-phase — dedup on the
    // COMPOSITE (key, x) first, which shuffles uniformly because x is
    // high-cardinality, then a cheap grouped count whose input is one
    // row per distinct pair. The map-side partial dedup of phase 1 also
    // collapses repeats before anything ships. l_returnflag has 3 values
    // at any scale, so at 100 TB the direct plan has 3 live reducers and
    // this one has all of them.
    QuerySpec(
      "n44_skew_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"))
        .distinct()
        .groupBy(col("l_returnflag"))
        // count(col), not count(*): SQL count(DISTINCT x) ignores NULL
        // x, and the distinct-pairs phase keeps a (flag, NULL) row —
        // counting the column keeps the phases semantically equal to
        // COUNT(DISTINCT) on nullable keys (the group still appears)
        .agg(count(col("l_partkey")).as("n_parts"))
    },

    // ----- n45: context-window chunking (overlapping token windows) -----
    // Long documents split into size-32 chunks on a stride of 24 (8
    // tokens of overlap) — the context-window prep step between packing
    // (n38, whole docs) and training. A pure per-row generator: the
    // chunk explosion happens inside the scan's projection, no shuffle,
    // parallelism and pushdown untouched — at 100 TB this is a map-only
    // stage. Chunk starts are 0, 24, 48, … < n_tokens, so every token
    // is covered and the last chunk may be short (never empty).
    QuerySpec(
      "n45_chunk_split",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, ws, n,
        |        unnest(generate_series(0, (n-1)//24)) AS i
        |      FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  array_to_string(ws[i*24+1 : i*24+32], ' ') AS chunk_text,
        |  CAST(least(32, n - i*24) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .withColumn("graft__n", size(col("graft__ws")).cast("long"))
        .select(
          col("doc_id"), col("graft__ws"), col("graft__n"),
          explode(sequence(lit(0L), expr("(graft__n - 1) div 24")))
            .as("chunk_id"))
        .select(
          col("doc_id"), col("chunk_id"),
          concat_ws(" ",
            slice(col("graft__ws"), (col("chunk_id") * 24L + 1L).cast("int"),
              lit(32))).as("chunk_text"),
          least(lit(32L), col("graft__n") - col("chunk_id") * 24L)
            .as("n_chunk_tokens"))
    },

    // ----- n46: PII scrubbing (regex redaction with typed tokens) -------
    // The synthetic corpus carries no PII, so the query PLANTS a
    // deterministic email+phone per row (derived from doc_id, appended
    // past a clean 40-char prefix) and then scrubs — proving the
    // redaction machinery end-to-end: both patterns hit on EVERY row
    // (1000 + doc_id % 9000 keeps the phone 4-digit, satisfying
    // PhonePattern's {3,}), placeholders land, counts come from the
    // pre-scrub text. Codegen'd regex over
    // one string pass per pattern; map-only at any scale.
    QuerySpec(
      "n46_pii_scrub",
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40) || ' contact user' || doc_id ||
         |      '@example.com or 555-' || (1000 + doc_id % 9000) || ' now' AS d
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(d,
         |    '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextOps.PhonePattern}', '<PHONE>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(d, '${TextOps.EmailPattern}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(d, '${TextOps.PhonePattern}')) AS BIGINT)
         |    AS n_phones
         |FROM dirty""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-"), lit(1000) + col("doc_id") % 9000,
            lit(" now")).as("graft__d"))
        .select(
          col("doc_id"),
          TextOps.scrubPii(col("graft__d")).as("clean_text"),
          TextOps.matchCount(col("graft__d"), TextOps.EmailPattern)
            .as("n_emails"),
          TextOps.matchCount(col("graft__d"), TextOps.PhonePattern)
            .as("n_phones"))
    },

    // ----- n47: one-pass column profiler --------------------------------
    // Table profiling (row count, null count, min/max per column) as ONE
    // aggregation over ONE scan — the naive per-column loop reads the
    // table k times, which at 100 TB is k×the job. All stats land in a
    // single partial-aggregable row; `stack` unpivots it to the long
    // profile shape driver-free. min/max are order statistics (no
    // arithmetic), so DOUBLE emission is exact cross-engine. The oracle
    // may rescan per column — oracle cost is irrelevant, the SPARK plan
    // is what is under test (one FileSourceScan; profiled via explain).
    QuerySpec(
      "n47_column_profile",
      """SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
        |  CAST(min(o_orderkey) AS DOUBLE) AS min_val,
        |  CAST(max(o_orderkey) AS DOUBLE) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), CAST(count(o_custkey) AS BIGINT),
        |  CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), CAST(count(o_totalprice) AS BIGINT),
        |  CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
        |FROM orders""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .agg(
          count(lit(1)).as("graft__n"),
          count(col("o_orderkey")).as("graft__nn1"),
          min(col("o_orderkey")).cast("double").as("graft__mn1"),
          max(col("o_orderkey")).cast("double").as("graft__mx1"),
          count(col("o_custkey")).as("graft__nn2"),
          min(col("o_custkey")).cast("double").as("graft__mn2"),
          max(col("o_custkey")).cast("double").as("graft__mx2"),
          count(col("o_totalprice")).as("graft__nn3"),
          min(col("o_totalprice")).as("graft__mn3"),
          max(col("o_totalprice")).as("graft__mx3"))
        .select(expr(
          """stack(3,
            |  'o_orderkey',   graft__n, graft__nn1, graft__mn1, graft__mx1,
            |  'o_custkey',    graft__n, graft__nn2, graft__mn2, graft__mx2,
            |  'o_totalprice', graft__n, graft__nn3, graft__mn3, graft__mx3)
            |AS (column_name, n_rows, n_nonnull, min_val, max_val)""".stripMargin))
    },

    // ----- n48: bigram collocation mining (PMI-style lift) --------------
    // Corpus collocations ranked by lift = P(w1,w2) / (P(w1·)·P(·w2)),
    // the association score behind phrase detection (word2vec-phrases,
    // NLTK collocations). All margins come from the BIGRAM table itself:
    // after one explode+groupBy, n_x / n_y are per-key window sums over
    // the (much smaller) distinct-bigram relation and the global total
    // is a broadcast 1-row aggregate — the raw token stream is read
    // once and never re-shuffled. Lift is ONE double multiply/divide
    // over exact integers (bit-identical cross-engine, header rules);
    // the top-50 cut is totally ordered (lift, n_xy, w1, w2) so LIMIT
    // selects the same set in both engines.
    QuerySpec(
      "n48_token_pmi",
      s"""WITH $bigramCteSql,
        |bg AS (SELECT w1, w2, count(*) AS n_xy FROM p GROUP BY 1, 2),
        |m AS (SELECT w1, w2, n_xy,
        |        sum(n_xy) OVER (PARTITION BY w1) AS n_x,
        |        sum(n_xy) OVER (PARTITION BY w2) AS n_y,
        |        sum(n_xy) OVER () AS nb
        |      FROM bg)
        |SELECT w1, w2, n_xy,
        |  CAST(n_xy AS DOUBLE) * nb / (n_x * n_y) AS lift
        |FROM m WHERE n_xy >= 2
        |ORDER BY lift DESC, n_xy DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
      val ws = t(s, d, "documents")
        .select(TextOps.tokens(col("text")).as("graft__ws"))
      val bg = ws
        .select(explode(TextOps.bigrams(col("graft__ws"))).as("graft__p"))
        .select(col("graft__p.w1"), col("graft__p.w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_xy"))
      val total = bg.agg(sum(col("n_xy")).as("graft__nb"))
      bg
        .withColumn("graft__nx",
          sum(col("n_xy")).over(Window.partitionBy(col("w1"))))
        .withColumn("graft__ny",
          sum(col("n_xy")).over(Window.partitionBy(col("w2"))))
        .join(broadcast(total))
        .filter(col("n_xy") >= 2)
        .select(col("w1"), col("w2"), col("n_xy"),
          (col("n_xy").cast("double") * col("graft__nb") /
            (col("graft__nx") * col("graft__ny"))).as("lift"))
        .orderBy(col("lift").desc, col("n_xy").desc, col("w1"), col("w2"))
        .limit(50)
    },

    // ----- n50: incremental dedup (new batch vs existing corpus) --------
    // The ingestion-time variant of n1: dedup a NEW batch of documents
    // within itself (keep the lowest doc_id per normalized-content key),
    // then drop everything whose content already exists in the corpus
    // (src0 plays the corpus; every other source is the batch). Both
    // sides reduce to md5 keys before any join — the anti join ships
    // 32-byte hashes, never text, and at 100 TB the corpus side is a
    // hash-only table that would live pre-bucketed in the warehouse
    // (s10's layout) so incremental loads skip its shuffle entirely.
    QuerySpec(
      "n50_incremental_dedup",
      """WITH k AS (SELECT doc_id, source,
        |             md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |               AS content_key
        |           FROM documents),
        |b AS (SELECT content_key, min(doc_id) AS doc_id
        |      FROM k WHERE source <> 'src0' GROUP BY 1)
        |SELECT b.doc_id, b.content_key FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM k
        |                  WHERE k.source = 'src0'
        |                    AND k.content_key = b.content_key)""".stripMargin) { (s, d) =>
      val keyed = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(TextOps.normalized(col("text"))).as("content_key"))
      keyed.filter(col("source") =!= "src0")
        .groupBy(col("content_key"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(keyed.filter(col("source") === "src0").select(col("content_key")),
          Seq("content_key"), "left_anti")
        .select(col("doc_id"), col("content_key"))
    },

    // ----- n49: count-min-sketch heavy hitters with exact gate ----------
    // Token frequencies from a 4×8192 CMS (graft.functions.
    // CountMinSketchAgg) probed for the exact top-10 tokens, n19-style:
    // the oracle is the EXACT top-10 plus `true`, and the Spark side must
    // prove its estimates land in the CMS band — est ≥ n always (the
    // sketch only over-counts) and est ≤ n + 8·⌊N/width⌋ + 8 (8× the
    // expected collision mass, min over 4 independent rows; fixed seeds
    // make the check fully deterministic, green at sf0.001/0.01/0.1).
    // One pass builds the sketch, one the exact counts; the 32 KB sketch
    // broadcast-joins onto 10 rows and the probe is pure Column
    // arithmetic inside codegen. At 100 TB the exact side is the thing
    // you CAN'T afford per ad-hoc probe — the sketch is the artifact,
    // the gate certifies it.
    QuerySpec(
      "n49_cms_topk",
      """SELECT tok, n_tok, true AS cms_ok FROM (
        |  SELECT tok, count(*) AS n_tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok)
        |ORDER BY n_tok DESC, tok LIMIT 10""".stripMargin) { (s, d) =>
      val width = 8192
      val toks = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      val sketch = toks
        .select(xxhash64(col("tok")).bitwiseAND(lit(0x7fffffffL)).as("graft__h"))
        .agg(expr(s"graft_cms(graft__h, 4, $width)").as("graft__cms"),
          count(lit(1)).as("graft__n"))
      val est = SketchAggregates.cmsEstimate(
        col("graft__cms"),
        xxhash64(col("tok")).bitwiseAND(lit(0x7fffffffL)), depth = 4, width = width)
      toks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
        .orderBy(col("n_tok").desc, col("tok"))
        .limit(10)
        .join(broadcast(sketch))
        .select(col("tok"), col("n_tok"),
          (est >= col("n_tok") &&
            est <= col("n_tok") + lit(8L) * expr(s"graft__n div $width") + lit(8L))
            .as("cms_ok"))
    },

    // ----- n51: bloom-prefiltered semi join -----------------------------
    // Spark's runtime bloom join pruning (SPARK-32268), spelled out as
    // an engine operator: build a Bloom filter over the SMALL side's
    // keys (one 8 KB array, graft.functions.BloomFilterAgg) and drop
    // non-matching fact rows at the scan — BEFORE the join and, at real
    // scale, before its shuffle. The exact semi join that follows
    // removes bloom false positives (~2e-4 at this geometry), so the
    // result is oracle-exact; false negatives are impossible. The probe
    // is the codegen'd BloomMightContain expression and the filter
    // receives the array via a SCALAR SUBQUERY — the shape Spark's own
    // InjectRuntimeFilter emits. The first cut cross-joined the array
    // in, and PushDownLeftSemiAntiJoin reordered the exact join BELOW
    // the probe, i.e. the prefilter filtered nothing (caught by the
    // plan pin); the subquery form is immune. At 100 TB with a shuffle
    // join this is the difference between shuffling the full fact table
    // and shuffling the ~1/5 that can match.
    QuerySpec(
      "n51_bloom_semi_join",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'AUTOMOBILE')""".stripMargin) { (s, d) =>
      val bits = 65536
      val hashes = 6
      t(s, d, "customer").createOrReplaceTempView("graft_n51_customer")
      t(s, d, "orders").createOrReplaceTempView("graft_n51_orders")
      s.sql(
        s"""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM graft_n51_orders
           |WHERE graft_bloom_contains(
           |        (SELECT graft_bloom(c_custkey, $bits, $hashes)
           |         FROM graft_n51_customer WHERE c_mktsegment = 'AUTOMOBILE'),
           |        o_custkey, $bits, $hashes)
           |  AND o_custkey IN (SELECT c_custkey FROM graft_n51_customer
           |                    WHERE c_mktsegment = 'AUTOMOBILE')""".stripMargin)
    },

    // ----- n52: LM fluency score (perplexity-filter shape) --------------
    // CCNet-style quality filtering scores every document under a
    // language model trained on the corpus itself; the worst-scoring
    // tail is dropped before training. Here the LM is the corpus bigram
    // model and the score is the mean conditional probability
    // avg(P(w_i | w_{i-1})) — the deterministic surrogate for
    // perplexity: exp(-avg ln p) is monotone in the same per-doc
    // ranking signal, but ln() is not bit-portable across engines
    // (libm vs JVM), while n_xy/n_x divisions and a POSITION-ORDERED
    // sequential fold are IEEE-exact (the n28 trick: sort_array +
    // aggregate ≡ DuckDB list(ORDER BY)+list_reduce, term for term).
    // Scale shape: counts aggregate once; the per-token probability
    // lookup is an equi-join of the bigram stream against the count
    // table on (w1,w2) — at 100 TB both sides hash-partition on the
    // same key, and the count table is the one you'd bucket (s10) so
    // scoring re-runs shuffle only the stream.
    QuerySpec(
      "n52_fluency_score",
      s"""WITH $bigramCteSql,
        |bg AS (SELECT w1, w2, count(*) AS n_xy FROM p GROUP BY 1, 2),
        |m AS (SELECT w1, w2, n_xy,
        |        sum(n_xy) OVER (PARTITION BY w1) AS n_x FROM bg),
        |pr AS (SELECT doc_id, pos, CAST(n_xy AS DOUBLE) / n_x AS prob
        |       FROM p JOIN m USING (w1, w2)),
        |l AS (SELECT doc_id, count(*) AS n_bigrams,
        |        list(prob ORDER BY pos) AS ps
        |      FROM pr GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  list_reduce(ps, (a, b) -> a + b) / n_bigrams AS fluency
        |FROM l""".stripMargin) { (s, d) =>
      val pairs = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .select(col("doc_id"),
          posexplode(TextOps.bigrams(col("graft__ws")))
            .as(Seq("pos", "graft__bg")))
        .select(col("doc_id"), col("pos"),
          col("graft__bg.w1"), col("graft__bg.w2"))
      val counts = pairs
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("graft__nxy"))
        .withColumn("graft__nx",
          sum(col("graft__nxy")).over(Window.partitionBy(col("w1"))))
      pairs
        .join(counts, Seq("w1", "w2"))
        .select(col("doc_id"), col("pos"),
          (col("graft__nxy").cast("double") / col("graft__nx")).as("graft__p"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          array_sort(collect_list(struct(col("pos"), col("graft__p"))))
            .as("graft__ps"))
        .select(col("doc_id"), col("n_bigrams"),
          (aggregate(col("graft__ps"), lit(0.0),
            (acc, x) => acc + x.getField("graft__p")) / col("n_bigrams"))
            .as("fluency"))
    },

    // ----- n53: Gopher-style composite quality gate ---------------------
    // Rule-based document filtering (Rae et al. 2021 "Scaling Language
    // Models", table A1 shape): per-doc signals — token count band,
    // mean word length band, minimum stopword evidence, max-token
    // repetition cap — AND'd into one keep flag, with every signal
    // emitted for auditability (a production gate logs WHY a doc
    // dropped). Unlike n10 (a score/band projection) this is the
    // drop-decision operator, and unlike n29 the repetition signal is
    // the mode frequency, not the distinct ratio. Scale shape: the
    // whole gate is MAP-ONLY — the per-doc mode count comes from a
    // sort+run-length fold over the token array (no explode, no
    // groupBy), so the plan has zero exchanges and the filter composes
    // with any downstream shuffle for free (plan-pinned).
    QuerySpec(
      "n53_gopher_filter",
      """WITH tf AS (SELECT doc_id, w, count(*) AS c FROM (
        |       SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |       FROM documents) GROUP BY doc_id, w),
        |mx AS (SELECT doc_id, max(c) AS top_cnt FROM tf GROUP BY doc_id),
        |sig AS (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |          CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |            / len(string_split(text, ' ')) AS mean_wlen,
        |          CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS BIGINT)
        |            AS stop_hits
        |        FROM documents)
        |SELECT s.doc_id, s.n_tokens, s.mean_wlen, s.stop_hits,
        |  CAST(mx.top_cnt AS DOUBLE) / s.n_tokens AS top_ratio,
        |  (s.n_tokens BETWEEN 20 AND 500) AND (s.mean_wlen BETWEEN 3 AND 10)
        |    AND s.stop_hits >= 2
        |    AND CAST(mx.top_cnt AS DOUBLE) / s.n_tokens <= 0.125 AS keep
        |FROM sig s JOIN mx USING (doc_id)""".stripMargin) { (s, d) =>
      val nt = TextOps.nTokens(col("text"))
      // mode count without a shuffle: sort the token array, fold a
      // (prev, run, best) accumulator over it — the run-length max IS
      // the mode frequency. Exact integer arithmetic throughout.
      val topCnt = aggregate(
        array_sort(TextOps.tokens(col("text"))),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, w) => {
          val run2 = when(w === acc.getField("prev"),
            acc.getField("run") + lit(1L)).otherwise(lit(1L))
          struct(w.as("prev"), run2.as("run"),
            greatest(acc.getField("best"), run2).as("best"))
        },
        acc => acc.getField("best"))
      val meanWlen =
        (length(col("text")).cast("long") - nt + 1).cast("double") /
          nt.cast("double")
      val stopHits = TextOps.matchCount(col("text"), "\\b(the|a)\\b")
      val topRatio = topCnt.cast("double") / nt.cast("double")
      t(s, d, "documents").select(
        col("doc_id"),
        nt.as("n_tokens"),
        meanWlen.as("mean_wlen"),
        stopHits.as("stop_hits"),
        topRatio.as("top_ratio"),
        (nt.between(20L, 500L) && meanWlen.between(3.0, 10.0) &&
          stopHits >= 2L && topRatio <= 0.125).as("keep"))
    },

    // ----- n54: SemDeDup (centroid-cell semantic dedup) -----------------
    // Semantic near-dup removal at embedding level (Abbas et al. 2023):
    // coarse-quantize to the shared ±1 centroids (the n35/n43 IVF
    // index), then inside each cell drop any vector with a ≥0.4-cosine
    // twin of lower id. The oracle rebuilds the identical index from
    // the same centroid constants (ivfRankSql — argmin-L2 ≡ argmax-dot
    // on ±1 centroids). The pair join is quadratic ONLY within a cell —
    // the centroid count is the knob that bounds cell size at 100 TB,
    // and the assignment is the same map-only projection an IVF index
    // pays anyway, so dedup and ANN share one quantization pass.
    QuerySpec(
      "n54_semdedup",
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings),
         |dup AS (SELECT DISTINCT a.vec_id FROM c a
         |        JOIN c b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
         |SELECT c.vec_id, c.cell,
         |  c.vec_id NOT IN (SELECT vec_id FROM dup) AS keep
         |FROM c""".stripMargin) { (s, d) =>
      Similarity.semDedup(
        t(s, d, "embeddings"), "vec_id", "embedding",
        centroids = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble)),
        threshold = 0.4)
    },

    // ----- n71: semantic decontamination against a benchmark set --------
    // The embedding-space counterpart of n36's n-gram decontamination:
    // drop training items whose embedding is too close to ANY benchmark
    // item (paraphrased eval leakage that shares no exact n-gram). The
    // first 25 vectors stand in for the benchmark set. Scale shape: the
    // benchmark side is small BY DEFINITION, so it broadcasts and the
    // corpus is scanned ONCE map-side — per row a fused k×cos loop
    // (graft_cosine) against the broadcast vectors, then a per-id
    // partial max; the corpus never shuffles (only (id, max) partials
    // do) and there is no corpus×corpus product anywhere. round(_, 6)
    // on both engines before max (rounding is monotone, so it commutes
    // with max) per the cross-engine cosine discipline.
    QuerySpec(
      "n71_semantic_decontam",
      """WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv
        |           FROM embeddings WHERE vec_id < 25),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 25),
        |m AS (SELECT c.vec_id,
        |        max(round(list_cosine_similarity(c.v, b.bv), 6)) AS max_sim
        |      FROM c CROSS JOIN b GROUP BY c.vec_id)
        |SELECT vec_id, max_sim, max_sim < 0.35 AS keep FROM m""".stripMargin) {
      (s, d) =>
        val emb = t(s, d, "embeddings")
        val bench = emb.filter(col("vec_id") < 25)
          .select(col("embedding").cast("array<double>").as("graft__bv"))
        emb.filter(col("vec_id") >= 25)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("graft__v"))
          .join(broadcast(bench))
          .groupBy(col("vec_id"))
          .agg(max(round(
            expr("graft_cosine(graft__v, graft__bv)"), 6)).as("max_sim"))
          .select(col("vec_id"), col("max_sim"),
            (col("max_sim") < 0.35).as("keep"))
    },

    // ----- n55: source-mixture sampling under a token budget ------------
    // Data mixing, the step AFTER filtering/dedup: given per-source
    // mixture weights and a corpus-wide token budget (half the corpus
    // here), derive each source's keep threshold from the corpus's OWN
    // aggregates — thresh_s = B·w_s·10000 ÷ Σ(w·T) in pure BIGINT
    // arithmetic (bit-identical cross-engine, no float rates) — and
    // admit docs by md5-residue (n24/n32's coordination-free sampler).
    // Scale shape: pass 1 reads (source, text) and reduces to a 20-row
    // rate table; pass 2 re-reads with the rate table BROADCAST — no
    // shuffle of the corpus in either pass, and the residue filter
    // composes into the scan.
    QuerySpec(
      "n55_mixture_sample",
      s"""WITH dt AS (SELECT doc_id, source,
         |       len(string_split(text, ' ')) AS n_tok,
         |       CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 4
         |            WHEN CAST(substr(source, 4) AS INT) < 13 THEN 2
         |            ELSE 1 END AS w
         |     FROM documents),
         |s AS (SELECT source, CAST(any_value(w) AS BIGINT) AS weight,
         |        sum(n_tok) AS t
         |      FROM dt GROUP BY source),
         |g AS (SELECT sum(t) AS tot, sum(weight * t) AS n FROM s),
         |r AS (SELECT source, weight,
         |        CAST(((tot // 2) * weight * 10000) // n AS BIGINT) AS thresh
         |      FROM s, g)
         |SELECT r.source, r.weight, r.thresh, count(*) AS n_kept,
         |  CAST(sum(dt.n_tok) AS BIGINT) AS tokens_kept
         |FROM dt JOIN r USING (source)
         |WHERE ${hex60("CAST(dt.doc_id AS VARCHAR)")} % 10000 < r.thresh
         |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      val srcNum = substring(col("source"), 4, 8).cast("int")
      val weight = when(srcNum < 5, 4L).when(srcNum < 13, 2L).otherwise(1L)
      val dt = t(s, d, "documents").select(
        col("doc_id"), col("source"),
        TextOps.nTokens(col("text")).as("graft__ntok"),
        weight.as("weight"))
      val perSrc = dt.groupBy(col("source"))
        .agg(first(col("weight")).as("weight"),
          sum(col("graft__ntok")).as("graft__t"))
      val totals = perSrc.agg(
        sum(col("graft__t")).as("graft__tot"),
        sum(col("weight") * col("graft__t")).as("graft__n"))
      val rates = perSrc.join(broadcast(totals))
        .select(col("source"), col("weight"),
          expr("((graft__tot div 2) * weight * 10000) div graft__n")
            .cast("long").as("thresh"))
      dt.drop("weight")
        .join(broadcast(rates), Seq("source"))
        .filter(
          TextOps.hexHash60(col("doc_id").cast("string")) % 10000 <
            col("thresh"))
        .groupBy(col("source"), col("weight"), col("thresh"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("graft__ntok")).as("tokens_kept"))
    },

    // ----- n56: cross-source shingle-overlap matrix ---------------------
    // Corpus provenance diagnostics: pairwise 3-shingle Jaccard between
    // sources — the aggregate view a dedup run consults to decide WHICH
    // source pairs are worth a near-dup pass (crawl snapshots of the
    // same site overlap heavily; unrelated sources don't). Shingles
    // reduce to 60-bit md5-derived fingerprints at the scan, so every
    // shuffle ships 8-byte longs, never text (collision odds over ~2^60
    // are negligible at any shingle count a source holds). No
    // self-join: each fingerprint's SOURCE SET is one aggregation
    // (collect_set dedups in the same pass), and the pair expansion is
    // a map-side generator over that sorted set — bounded by the
    // source count squared per fingerprint, with ONE shuffle of the
    // corpus instead of the join's two. Per-source set sizes are a
    // 20-row countDistinct dim that broadcast-joins onto the 190-row
    // pair matrix. The DuckDB oracle keeps the equivalent (and
    // SQL-natural) self-join spelling — same matrix either way.
    QuerySpec(
      "n56_source_overlap",
      s"""WITH sh AS (SELECT DISTINCT source, ${hex60("shingle")} AS fp FROM (
        |       SELECT source,
        |         w || ' ' || lead(w, 1) OVER win || ' ' ||
        |           lead(w, 2) OVER win AS shingle
        |       FROM (SELECT doc_id, source,
        |               unnest(string_split(text, ' ')) AS w,
        |               generate_subscripts(string_split(text, ' '), 1) AS pos
        |             FROM documents)
        |       WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |     WHERE shingle IS NOT NULL),
        |n AS (SELECT source, count(*) AS nf FROM sh GROUP BY source)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared,
        |  CAST(count(*) AS DOUBLE)
        |    / (any_value(na.nf) + any_value(nb.nf) - count(*)) AS jaccard
        |FROM sh a JOIN sh b ON a.fp = b.fp AND a.source < b.source
        |JOIN n na ON na.source = a.source
        |JOIN n nb ON nb.source = b.source
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      // spread before the shingle fold: a single-row-group corpus file
      // scans as ONE split, which would run the expensive per-row
      // explode+hash on one core (no-op at scale — see Partitioning)
      val sh = graft.operators.Partitioning.spread(t(s, d, "documents"))
        .select(col("source"),
          explode(TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3))
            .as("graft__sh"))
        .select(col("source"),
          TextOps.hexHash60(col("graft__sh")).as("graft__fp"))
      // ONE corpus shuffle: the per-fingerprint source set. Both the
      // pair matrix and the per-source set sizes (nf = how many sets
      // contain the source) derive from it — the second consumer
      // re-reads the same exchange (ReuseExchange), not the corpus.
      val sets = sh
        .groupBy(col("graft__fp"))
        .agg(sort_array(collect_set(col("source"))).as("graft__ss"))
      val nf = sets
        .select(explode(col("graft__ss")).as("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("graft__nf"))
      val pairs = sets
        .filter(size(col("graft__ss")) >= 2)
        .select(explode(flatten(transform(col("graft__ss"), (x, i) =>
          transform(
            slice(col("graft__ss"), i + lit(2), size(col("graft__ss"))),
            y => struct(x.as("a"), y.as("b")))))).as("graft__pr"))
        .groupBy(col("graft__pr.a").as("source_a"),
          col("graft__pr.b").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(nf.select(col("source").as("source_a"),
          col("graft__nf").as("graft__nfa"))), Seq("source_a"))
        .join(broadcast(nf.select(col("source").as("source_b"),
          col("graft__nf").as("graft__nfb"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_shared"),
          (col("n_shared").cast("double") /
            (col("graft__nfa") + col("graft__nfb") - col("n_shared")))
            .as("jaccard"))
    },

    // ----- n57: BPE merge candidates (tokenizer-training first step) ----
    // The inner loop of BPE training (Sennrich et al. 2016): count
    // adjacent symbol pairs over the corpus, highest count = next
    // merge. Done the way a tokenizer trainer actually scales: the
    // corpus reduces to the WEIGHTED VOCABULARY first (word → freq, a
    // vocabulary-sized relation), and pairs expand from distinct words
    // only, weighted by freq — the token stream shuffles once as bare
    // words; the quadratic-ish pair expansion touches |vocab| rows,
    // not |corpus|. Top-20 is totally ordered (n DESC, pair ASC) so
    // LIMIT picks the same set in both engines; TakeOrdered, no global
    // sort. 1-char words contribute no pairs (guarded — Spark's
    // sequence(1, 0) would generate a DESCENDING range, not empty).
    QuerySpec(
      "n57_bpe_pairs",
      """WITH wf AS (SELECT w, count(*) AS f FROM (
        |       SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |     GROUP BY w),
        |pr AS (SELECT unnest(list_transform(range(1, length(w)),
        |                i -> substr(w, i, 2))) AS pair, f
        |       FROM wf)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n
        |FROM pr GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      val wf = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("graft__f"))
      wf
        .select(
          explode(when(length(col("w")) >= 2,
            expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .otherwise(array().cast("array<string>"))).as("pair"),
          col("graft__f"))
        .groupBy(col("pair"))
        .agg(sum(col("graft__f")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // ----- n58: k-means Lloyd step (centroid refinement) ----------------
    // The training step behind every centroid this engine consumes
    // (n35/n43 IVF cells, n54 SemDeDup): assign each vector to its
    // nearest centroid, recompute each cell's per-dimension mean
    // (Lloyd 1982). Cross-engine exactness WITHOUT per-cell lists:
    // values are quantized to a 1e-9 grid — floor(v·1e9) is IEEE-exact
    // on both engines — and summed as BIGINTs, which are ASSOCIATIVE:
    // partial aggregation is safe at any split, unlike float sums
    // whose value depends on reduction order. That makes this the
    // 100 TB-viable exact shape, not just an oracle trick: the
    // 64-way posexplode feeds a map-side partial agg, so the shuffle
    // carries ≤ cells×dims rows per task, never the corpus. The mean
    // is ONE division of exact integers — bit-identical doubles.
    QuerySpec(
      "n58_kmeans_step",
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings),
         |e AS (SELECT cell, v,
         |        unnest(generate_series(1, len(v))) AS dim FROM c),
         |q AS (SELECT cell, dim,
         |        CAST(floor(v[dim] * 1000000000) AS BIGINT) AS qv FROM e)
         |SELECT cell, dim, count(*) AS n,
         |  CAST(sum(qv) AS BIGINT) AS qsum,
         |  CAST(CAST(sum(qv) AS BIGINT) AS DOUBLE)
         |    / (1000000000.0 * count(*)) AS centroid
         |FROM q GROUP BY cell, dim""".stripMargin) { (s, d) =>
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      t(s, d, "embeddings")
        .select(Similarity.asDouble(col("embedding")).as("graft__v"))
        .withColumn("cell",
          Similarity.nearestCell(col("graft__v"), cents))
        .select(col("cell"),
          posexplode(col("graft__v")).as(Seq("graft__pos", "graft__x")))
        .select(col("cell"), (col("graft__pos") + 1).cast("long").as("dim"),
          floor(col("graft__x") * lit(1000000000.0)).as("graft__qv"))
        .groupBy(col("cell"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("graft__qv")).as("qsum"))
        .select(col("cell"), col("dim"), col("n"), col("qsum"),
          (col("qsum").cast("double") / (lit(1000000000.0) * col("n")))
            .as("centroid"))
    },

    // ----- n59: corpus-wide line-level exact dedup ----------------------
    // CCNet/Dolma's other dedup axis: document-level dedup (n1/n3)
    // keeps boilerplate that repeats INSIDE distinct documents —
    // headers, navigation, license blurbs — so production pipelines
    // also dedup at line granularity, keeping each line's first
    // corpus occurrence and reassembling the survivors (Wenzek et al.
    // LREC 2020 §4.1). Lines are 8-token blocks (no newlines in the
    // synthetic corpus). Scale design — first-occurrence as a
    // map-side-combining aggregate (never a hot-key window), join-free
    // reassembly — lives on operators/LineDedup; plan pinned in
    // QueryPlansSpec.
    QuerySpec(
      "n59_line_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents),
        |l AS (SELECT doc_id, ws,
        |        unnest(generate_series(0, (n-1)//8)) AS lid
        |      FROM t),
        |lx AS (SELECT doc_id, lid,
        |         array_to_string(ws[lid*8+1 : lid*8+8], ' ') AS line
        |       FROM l),
        |k AS (SELECT doc_id, lid, line,
        |        row_number() OVER (PARTITION BY line
        |                           ORDER BY doc_id, lid) AS rn
        |      FROM lx),
        |tot AS (SELECT doc_id, (n-1)//8 + 1 AS n_lines FROM t),
        |kept AS (SELECT doc_id,
        |           string_agg(line, ' ' ORDER BY lid) AS clean_text,
        |           count(*) AS n_kept
        |         FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT kept.doc_id, clean_text, n_kept,
        |  CAST(n_lines - n_kept AS BIGINT) AS n_dropped
        |FROM kept JOIN tot USING (doc_id)""".stripMargin) { (s, d) =>
      graft.operators.LineDedup
        .dedup(t(s, d, "documents"), "doc_id", "text", lineTokens = 8)
    },

    // ----- n60: seeded deterministic corpus ordering --------------------
    // The epoch-shuffle step of a training run: a REPRODUCIBLE global
    // permutation of the corpus, parameterized by a seed — same seed →
    // same order on any cluster size or partitioning, new seed → fresh
    // permutation (change 's42:' and the whole order re-deals). Order
    // key is the portable 60-bit md5 residue of seed:doc_id with
    // doc_id as total-order tiebreak. The dense global position reuses
    // SurrogateKey.denseRowNumber — range-repartition on the key, then
    // per-partition numbering shifted by broadcast metadata-sized
    // offsets — because the naive row_number() OVER (ORDER BY …) is a
    // single-partition funnel, the canonical 100 TB scale-killer.
    QuerySpec(
      "n60_corpus_order",
      s"""WITH h AS (SELECT doc_id,
         |       ${hex60("'s42:' || CAST(doc_id AS VARCHAR)")} AS hk
         |     FROM documents)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS ord
         |FROM h""".stripMargin) { (s, d) =>
      val hashed = t(s, d, "documents")
        .select(col("doc_id"),
          TextOps.hexHash60(concat(lit("s42:"), col("doc_id").cast("string")))
            .as("graft__hk"))
      SurrogateKey
        .denseRowNumber(hashed, "ord", col("graft__hk"), col("doc_id"))
        .select(col("doc_id"), col("ord"))
    },

    // ----- n61: duplicated-n-gram token coverage (Gopher repetition) ----
    // The Gopher repetition family's n-gram axis (Rae et al. 2021,
    // Table A1: dup_ngram_frac), complementing n29's top-token ratio:
    // the fraction of a document's tokens covered by some 3-gram that
    // occurs ≥2 times IN that document — the signal that catches
    // looping/templated text whose repeating unit is a phrase, not a
    // word. Coverage is a real interval union (occurrences overlap),
    // computed as distinct covered positions. Scale shape: every
    // shuffle key is a uniform composite — (doc, gram) for the
    // occurrence counts (collect_list of positions is bounded by doc
    // length), (doc, position) for the coverage distinct — then one
    // doc-level count joins doc-level token totals; the corpus text
    // itself never shuffles, only grams and positions. The fraction
    // divides exact integers — bit-identical doubles cross-engine.
    QuerySpec(
      "n61_dup_ngram_frac",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |             len(string_split(text, ' ')) AS n
        |           FROM documents),
        |g AS (SELECT doc_id, ws, unnest(generate_series(1, n - 2)) AS p
        |      FROM t WHERE n >= 3),
        |gg AS (SELECT doc_id, p,
        |         ${hex60("array_to_string(ws[p : p+2], ' ')")} AS fp
        |       FROM g),
        |c AS (SELECT doc_id, fp, count(*) AS c, list(p) AS ps
        |      FROM gg GROUP BY doc_id, fp),
        |oc AS (SELECT doc_id, unnest(ps) AS p FROM c WHERE c >= 2),
        |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(p, p + 2)) AS pos
        |        FROM oc),
        |nc AS (SELECT doc_id, count(*) AS nc FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, n AS n_tokens,
        |  CAST(coalesce(nc, 0) AS BIGINT) AS n_covered,
        |  CAST(coalesce(nc, 0) AS DOUBLE) / n AS dup3_frac
        |FROM t LEFT JOIN nc ON t.doc_id = nc.doc_id""".stripMargin) { (s, d) =>
      // MAP-ONLY: coverage is a within-document computation, so the
      // whole chain — positional 3-gram hashes, which-values-repeat,
      // interval-union coverage — runs as array expressions per row.
      // The former spelling shuffled (doc, gram) counts, (doc, pos)
      // distincts and a doc rollup, then joined them back; at corpus
      // scale that moved every gram of every document three times for
      // a number derivable from the row alone. Per-doc cost is
      // O(g log g) for the sort + O(g·|repeated|) for the membership
      // probe — bounded by document length, not corpus size.
      //
      // `sequence` guards: Spark's sequence(a, b) runs DESCENDING when
      // b < a, so every range is wrapped in a when() for short docs.
      graft.operators.Partitioning.spread(t(s, d, "documents"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .withColumn("graft__n", size(col("graft__ws")).cast("long"))
        // fused positional fingerprints (one digest pass per row, no
        // per-gram string construction) — parity with the former
        // conv/substring/md5 HOF spelling is law-tested
        .withColumn("graft__fps",
          expr("transform(graft_pos_fps(graft__ws, 3), g -> g.fp)"))
        .withColumn("graft__sorted", expr("array_sort(graft__fps)"))
        .withColumn("graft__dups", expr(
          // values appearing ≥2 times: keep sorted values equal to
          // their left neighbor, distinct (sort hoisted to its own
          // column — inside the lambda it would re-sort per element)
          """CASE WHEN size(graft__sorted) >= 2 THEN
            |  array_distinct(filter(
            |    transform(sequence(2, size(graft__sorted)),
            |      j -> CASE WHEN element_at(graft__sorted, j)
            |                     = element_at(graft__sorted, j - 1)
            |                THEN element_at(graft__sorted, j) END),
            |    x -> x IS NOT NULL))
            |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
        .withColumn("graft__nc", expr(
          // union of [p, p+2] over positions whose gram repeats
          """CASE WHEN size(graft__dups) > 0 THEN
            |  CAST(size(array_distinct(flatten(transform(
            |    filter(sequence(1L, CAST(size(graft__fps) AS BIGINT)),
            |      p -> array_contains(graft__dups, element_at(graft__fps, CAST(p AS INT)))),
            |    p -> sequence(p, p + 2L))))) AS BIGINT)
            |ELSE 0L END""".stripMargin))
        .select(col("doc_id"), col("graft__n").as("n_tokens"),
          col("graft__nc").as("n_covered"),
          (col("graft__nc").cast("double") / col("graft__n")).as("dup3_frac"))
    },

    // ----- n62: soft-dedup corpus weighting -----------------------------
    // The alternative to DROPPING exact duplicates (n1): keep every
    // copy but down-weight it by its duplication count — w = 1/c per
    // doc — so repeated text contributes one document's worth of
    // training mass however often it was crawled. The report is the
    // per-source budget view a mixture planner (n55) consumes:
    // effective token mass after weighting. Arithmetic is EXACT
    // integer micro-tokens — floor(n_tok·1e6 / c) per doc, summed as
    // BIGINT — because summing n_tok/c doubles across a corpus is
    // reduction-order-dependent and would never hash-match. The 1e6
    // multiplier spends ~20 bits of BIGINT headroom: exact up to
    // ~9.2e12 effective tokens PER SOURCE (tens of TB of text); a
    // corpus beyond that drops the multiplier a decade per 10× (1e3
    // still gives milli-token granularity at 9.2e15) — precision for
    // range, same plan. Scale
    // shape: cluster sizes ride ONE corpus shuffle on the md5 content
    // key (count window; the md5 is computed at the scan so the
    // exchange ships 32-byte keys + two longs, never text), then the
    // per-source rollup partial-aggregates map-side. A corpus with
    // adversarial mega-clusters (billions of one value) would swap
    // the window for the n44 two-phase agg+join form — same result,
    // same single corpus shuffle, partials collapse the hot key.
    QuerySpec(
      "n62_soft_dedup_weights",
      """WITH d AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tok,
        |             md5(text) AS k
        |           FROM documents),
        |w AS (SELECT source, n_tok, k,
        |        count(*) OVER (PARTITION BY k) AS c
        |      FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_unique,
        |  CAST(sum((n_tok * 1000000) // c) AS BIGINT) AS eff_tokens_micro
        |FROM w GROUP BY source""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select(
        col("source"),
        TextOps.nTokens(col("text")).as("graft__ntok"),
        md5(col("text")).as("graft__k"))
      docs
        .withColumn("graft__c",
          count(lit(1)).over(Window.partitionBy(col("graft__k"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("graft__k")).as("n_unique"),
          sum(expr("(graft__ntok * 1000000) div graft__c"))
            .as("eff_tokens_micro"))
    },

    // ----- n63: two-level HLL rollup (store sketches, merge later) ------
    // n19 estimates in one pass; THIS is the shape incremental
    // warehouses actually run at 100 TB: materialize one HLL sketch
    // per segment (here per event_type; in production per day/partition
    // — a few KB each), then answer the global question by MERGING the
    // stored sketches — no rescan of history when a new segment lands.
    // Users overlap across segments, so the union must genuinely
    // dedupe across sketches (summing per-segment estimates would
    // overcount); Spark 4's DataSketches hll_sketch_agg/hll_union_agg
    // are the codegen'd built-ins for exactly this. The estimate is
    // engine-specific, so the oracle pins the exact distinct plus a
    // 15% band assertion (n19's discipline) — deterministic for a
    // fixed input + algorithm. NULL event_types are excluded on BOTH
    // sides (Spark's groupBy would count a null segment that the
    // oracle's count(DISTINCT) excludes — latent until the events
    // table ever carries one), and exact_n scopes to the same rows so
    // the sketch union and the exact count cover identical users.
    QuerySpec(
      "n63_hll_rollup",
      """SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_segments,
        |  count(DISTINCT user_id) AS exact_n, true AS approx_ok
        |FROM events WHERE event_type IS NOT NULL""".stripMargin) { (s, d) =>
      val events = t(s, d, "events").filter(col("event_type").isNotNull)
      val perSegment = events
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("graft__sk"))
      val merged = perSegment.agg(
        count(lit(1)).as("n_segments"),
        hll_sketch_estimate(hll_union_agg(col("graft__sk")))
          .as("graft__approx"))
      val exact = events.agg(countDistinct(col("user_id")).as("exact_n"))
      exact.join(broadcast(merged))
        .select(col("n_segments"), col("exact_n"),
          (abs(col("graft__approx") - col("exact_n")) <=
            col("exact_n") * 0.15).as("approx_ok"))
    },

    // ----- n64: filter-funnel attrition report --------------------------
    // The observability artifact every filtering pipeline publishes
    // (CCNet/Gopher/Dolma papers all lead with one): how many docs —
    // and how many tokens — each gate removed, with every document
    // attributed to its FIRST failing rule so the stage counts sum to
    // the corpus and the funnel reads top-to-bottom. One corpus pass
    // for the signals (the repetition signal reuses n29's exact
    // (doc, token) aggregation — uniform composite shuffle keys,
    // partial-aggregated), then the CASE cascade and a 4-row rollup.
    // Thresholds: <15 tokens, non-English, top-token ratio > 0.2.
    QuerySpec(
      "n64_filter_funnel",
      """WITH t AS (SELECT doc_id, lang,
        |             len(string_split(text, ' ')) AS n,
        |             string_split(text, ' ') AS ws
        |           FROM documents),
        |tc AS (SELECT doc_id, max(c) AS topc FROM (
        |         SELECT doc_id, w, count(*) AS c FROM (
        |           SELECT doc_id, unnest(ws) AS w FROM t) z
        |         GROUP BY doc_id, w)
        |       GROUP BY doc_id),
        |r AS (SELECT t.doc_id, n,
        |        CASE WHEN n < 15 THEN '1_too_short'
        |             WHEN lang <> 'en' THEN '2_non_english'
        |             WHEN topc * 5 > n THEN '3_repetitive'
        |             ELSE '4_pass' END AS stage
        |      FROM t JOIN tc ON t.doc_id = tc.doc_id)
        |SELECT stage, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM r GROUP BY stage""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokens(col("text")).as("graft__ws"))
        .withColumn("graft__n", size(col("graft__ws")).cast("long"))
      val topc = toks
        .select(col("doc_id"), explode(col("graft__ws")).as("graft__w"))
        .groupBy(col("doc_id"), col("graft__w"))
        .agg(count(lit(1)).as("graft__c"))
        .groupBy(col("doc_id"))
        .agg(max(col("graft__c")).as("graft__topc"))
      toks
        .join(topc, Seq("doc_id"))
        .select(col("graft__n"),
          when(col("graft__n") < 15, "1_too_short")
            .when(col("lang") =!= "en", "2_non_english")
            .when(col("graft__topc") * 5 > col("graft__n"), "3_repetitive")
            .otherwise("4_pass").as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("graft__n")).as("n_tokens"))
    },

    // ----- n65: sequential event funnel (ordered conversion) ------------
    // The product-analytics pattern the window/session queries don't
    // cover: step B counts only if it happens AFTER step A — first
    // view, then first purchase at-or-after it, conversion within an
    // hour. Order is enforced by value (purchase ts >= first view ts),
    // not by row adjacency, so the whole funnel is two per-user aggs
    // and user-level joins — uniform shuffle keys, map-side partials,
    // no window over the event stream and nothing sequential in the
    // PLAN even though the SEMANTICS are sequential. The gap test
    // divides exact whole-second integers (both engines floor).
    QuerySpec(
      "n65_event_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS first_view
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
        |      GROUP BY e.user_id)
        |SELECT count(*) AS n_viewers,
        |  CAST(count(first_purchase) AS BIGINT) AS n_converted,
        |  CAST(sum(CASE WHEN date_diff('second', first_view, first_purchase)
        |                     <= 3600 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_converted_1h
        |FROM v LEFT JOIN p USING (user_id)""".stripMargin) { (s, d) =>
      val events = t(s, d, "events")
      val views = events.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("graft__fv"))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
        .join(views, Seq("user_id"))
        .filter(col("ts") >= col("graft__fv"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("graft__fp"))
      views
        .join(purchases, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_viewers"),
          count(col("graft__fp")).as("n_converted"),
          sum(when(unix_timestamp(col("graft__fp")) -
            unix_timestamp(col("graft__fv")) <= 3600L, 1L).otherwise(0L))
            .as("n_converted_1h"))
    },

    // ----- n66: cohort retention matrix ---------------------------------
    // The other classic warehouse analytics shape (n65 is the funnel):
    // users bucketed by first-seen day, activity counted per
    // (cohort, day-offset) cell — the retention curve per cohort.
    // Anchor dates come from one per-user agg; the activity relation
    // joins back user-co-partitioned, dedupes on the (user, offset)
    // composite (a user active twice on day 3 counts once), and rolls
    // up to the cells — every shuffle key uniform, every aggregate
    // map-side partial. datediff on DATEs is calendar-exact on both
    // engines (no timezone arithmetic; session TZ pinned UTC anyway).
    QuerySpec(
      "n66_cohort_retention",
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
        |        date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        |      FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
        |  count(*) AS n_active
        |FROM a WHERE day_offset <= 7
        |GROUP BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val events = t(s, d, "events")
        .select(col("user_id"), col("ts").cast("date").as("graft__day"))
      val cohorts = events
        .groupBy(col("user_id")).agg(min(col("graft__day")).as("cohort_day"))
      events
        .join(cohorts, Seq("user_id"))
        .select(col("user_id"), col("cohort_day"),
          datediff(col("graft__day"), col("cohort_day")).cast("long")
            .as("day_offset"))
        .filter(col("day_offset") <= 7)
        .distinct()
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_active"))
    },

    // ----- n67: BPE tokenizer training loop ------------------------------
    // The full k-round fixed point (Sennrich et al. 2016) that n57's
    // single candidate-mining round belongs to: count pairs → merge the
    // argmax everywhere → recount, 5 rounds, emitting the ordered merge
    // table. Corpus reduces to the weighted vocabulary once; every
    // round is vocab-sized with a TakeOrdered(1) argmax bound into the
    // merge lambda via a broadcast 1-row crossJoin (no data-path
    // collect), localCheckpoint + eager release per round (the n30/n58
    // iterative discipline). The oracle unrolls the same 5 rounds over
    // a positional symbol table — both sides are deterministic via the
    // (n DESC, pair ASC) tie-break. See operators/BpeTrainer.
    QuerySpec(
      "n67_bpe_train",
      bpeTrainSql(5)) { (s, d) =>
      BpeTrainer.train(t(s, d, "documents"), "text", 5)
    },

    // ----- n69: BPE corpus encoding (compression stats) -----------------
    // The other half of tokenizer training: APPLY the trained merge
    // table to the corpus and measure what it bought — weighted symbol
    // counts before (characters) and after (merged subwords). Encoding
    // is the same map-only greedy fold the trainer iterates, run over
    // the weighted vocabulary, so the corpus is never re-scanned; the
    // oracle replays all 5 unrolled rounds and aggregates the final
    // positional table. Certifies merge APPLICATION end-to-end, where
    // n67 certifies merge SELECTION.
    QuerySpec(
      "n69_bpe_compression",
      bpeEncodeSql(5)) { (s, d) =>
      BpeTrainer.trainVocab(t(s, d, "documents"), "text", 5)
        .vocab
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("f") * length(col("w")).cast("long")).as("symbols_before"),
          sum(col("f") * size(col("syms")).cast("long")).as("symbols_after"))
    },

    // ----- n70: leakage-safe train/val/test split ------------------------
    // The split hygiene step every eval pipeline needs and naive
    // per-doc hashing gets wrong: a near-duplicate of a training doc in
    // the eval split leaks the answer. Split by the md5 residue of the
    // near-dup CLUSTER representative (n30's components), so every
    // cluster member lands in the same split by construction; singleton
    // docs hash their own id. Coordination-free at 100 TB: the decision
    // is one map-side hash after the proven pair→cluster machinery, and
    // the cluster relation (pairs only — tiny vs the corpus) left-joins
    // the corpus on doc_id. 80/10/10 by residue bands. The oracle
    // replays the recursive closure and the same residue rule.
    QuerySpec(
      "n70_leakage_safe_split",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS rep
         |         FROM reach GROUP BY u),
         |assign AS (
         |  SELECT d.doc_id,
         |    ${hex60("'split:' || CAST(coalesce(c.rep, d.doc_id) AS VARCHAR)")}
         |      % 100 AS r
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         |SELECT doc_id,
         |  CASE WHEN r < 80 THEN 'train'
         |       WHEN r < 90 THEN 'val' ELSE 'test' END AS split
         |FROM assign""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val comps = DedupClusters.components(
        MinHashNearDup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8),
        "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("graft__rep"))
      docs.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("graft__r",
          TextOps.hexHash60(concat(lit("split:"),
            coalesce(col("graft__rep"), col("doc_id")).cast("string"))) % 100)
        .select(col("doc_id"),
          when(col("graft__r") < 80, "train")
            .when(col("graft__r") < 90, "val")
            .otherwise("test").as("split"))
    },

    // ----- n68: online near-dup, batch parity ---------------------------
    // The STREAMING component's candidate semantics certified through
    // the batch gate: StreamingNearDup.bandKeys is the same per-row HOF
    // sketch the stream evaluates (bit-identical to the batch aggregate
    // — StreamingNearDupSpec), and the bucket self-join enumerates
    // exactly the pairs the stream's bucket memory would emit across
    // micro-batches (parity proven in the same spec). Candidates are a
    // probabilistic superset cut, so the reported set goes through the
    // exact-Jaccard verify (n3 discipline) and the oracle is the exact
    // answer. Both multiply-consumed relations persist (Verify/Bench
    // clear the cache between queries).
    QuerySpec(
      "n68_online_neardup",
      s"""WITH $shingleCte,
         |${jaccardPairsSql(0.8)}""".stripMargin) { (s, d) =>
      // spread: the signature fold below is the cost of this query and
      // must not be serialized by a one-split corpus file (no-op at
      // scale — see Partitioning)
      val docs = graft.operators.Partitioning.spread(t(s, d, "documents"))
      // ONE shingle pass feeds both the stream's sketch expression and
      // the exact verify (the per-row fold is the cost of this query —
      // it is the point of it — but shingling twice wasn't)
      val shingled = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .select(col("doc_id"),
          TextOps.shinglesFromTokens(col("graft__ws"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .transform(graft.operators.Materialize.shared)
      val bk = StreamingNearDup.bandKeysFromSignatures(
        StreamingNearDup.signaturesFromShingles(
          shingled.select(col("doc_id"), col("sh").as("graft__sh"))))
        .transform(graft.operators.Materialize.shared)
      val candidates = bk.alias("l")
        .join(bk.alias("r"),
          col("l.bucket") === col("r.bucket") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct()
      candidates
        .join(shingled.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
          Seq("id_a"))
        .join(shingled.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
          Seq("id_b"))
        .withColumn("graft__i",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard", col("graft__i").cast("double") /
          (size(col("sh_a")).cast("long") +
            size(col("sh_b")).cast("long") - col("graft__i")))
        .filter(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },

    // ----- n71: streaming sessionization, batch parity ------------------
    // The STREAMING session operator's emission semantics certified
    // through the batch gate (the n68 discipline): sessionsBatch runs
    // the SAME foldSessionTimes the stream's state handler runs —
    // epoch-ms gap arithmetic included — with the tail session flushed,
    // which is exactly the set streamingSessions emits once the
    // watermark passes every event (its event-time timeout).
    // EventStreamSpec proves stream ≡ batch on the same feed; the
    // oracle is the gap-and-island spelling in DuckDB, in epoch ms so
    // sub-second gaps hit the same 30-minute boundary the stream's
    // millisecond state sees.
    QuerySpec(
      "n71_stream_sessions_parity",
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms FROM events),
        |g AS (SELECT user_id, tms,
        |  CASE WHEN lag(tms) OVER (PARTITION BY user_id ORDER BY tms) IS NULL
        |        OR tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms) > 1800000
        |  THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, tms,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY tms
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(tms) AS session_start_ms, max(tms) AS session_end_ms,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = t(s, d, "events")
        .select(col("user_id"), col("ts"))
        .as[EventStream.SessionEvent]
      EventStream.sessionsBatch(s, ev, gapMinutes = 30)
        .select(col("user_id"),
          unix_millis(col("session_start")).as("session_start_ms"),
          unix_millis(col("session_end")).as("session_end_ms"),
          col("n_events"))
    },

    // ----- n72: streaming quota admission, batch parity -----------------
    // transformWithState per-source admission certified through the
    // batch gate: with arrival order = doc_id order (how the spec feeds
    // the stream), the running-counter cut equals the per-source
    // row_number cut. EventStreamSpec proves stream ≡ batch on the same
    // feed.
    QuerySpec(
      "n72_stream_quota_parity",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 10""".stripMargin) { (s, d) =>
      EventStream.quotaAdmitBatch(
        t(s, d, "documents").select(col("doc_id"), col("source")), 10L)
    },

    // ----- n106: streaming funnel, batch parity -------------------------
    // The per-user stage relation behind n65's funnel rollup, as the
    // state a streaming funnel carries: first view, first qualifying
    // purchase. streamingFunnel maintains exactly this as TWO longs per
    // user via transformWithState (EventStreamSpec proves stream ≡
    // batch on the same feed, including within-batch disorder); gating
    // the batch twin certifies the shared semantics — the n72/n73
    // parity pattern. Timestamps emit at full micro precision on both
    // engines (the n73 CAST discipline).
    QuerySpec(
      "n106_stream_funnel_parity",
      """WITH v AS (SELECT user_id, min(ts) AS fv
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS fp
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= v.fv
        |      GROUP BY 1)
        |SELECT v.user_id, CAST(v.fv AS TIMESTAMP) AS first_view,
        |  CAST(p.fp AS TIMESTAMP) AS first_purchase
        |FROM v LEFT JOIN p ON v.user_id = p.user_id""".stripMargin) {
      (s, d) =>
        EventStream.funnelBatch(
          t(s, d, "events")
            .select(col("user_id"), col("ts"), col("event_type")))
    },

    // ----- n73: stream-stream interval join, batch parity ---------------
    // The SAME intervalJoin function wires the streaming path
    // (streamingIntervalJoin only adds watermarks — EventStreamSpec
    // proves batch ≡ stream), so gating the batch call certifies the
    // shared join semantics: purchases within 30 minutes AFTER a view,
    // per user. Equi-join on user_id with the time bound as a
    // post-join predicate — the scalable spelling (keyed shuffle, no
    // range-join blowup); timestamps compare at full micro precision
    // on both engines, no rounding needed.
    QuerySpec(
      "n73_stream_interval_parity",
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE""".stripMargin) { (s, d) =>
      val events = t(s, d, "events")
      EventStream.intervalJoin(
        events.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id")),
        events.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id")),
        "user_id", "view_ts", "purchase_ts", "30 minutes")
        .select(col("view_id"), col("purchase_id"))
    },

    // ----- n162: stream-stream LEFT OUTER interval join, batch parity ---
    // n73 certifies the inner join; attribution needs the OUTER form —
    // unconverted views emit with a null purchase side, and in
    // streaming that null row appears only when the right watermark
    // passes view_ts + 30m (state eviction IS the null trigger —
    // EventStreamSpec proves the real watermarked stream emits the
    // same null-padded rows, including a view whose match never
    // arrives). Gating the shared batch body certifies the join
    // semantics; null purchase ids survive the hash compare on both
    // engines.
    QuerySpec(
      "n162_stream_outer_parity",
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP)
        |       + INTERVAL 30 MINUTE""".stripMargin) { (s, d) =>
      val events = t(s, d, "events")
      EventStream.intervalJoinOuter(
        events.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id")),
        events.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id")),
        "user_id", "view_ts", "purchase_ts", "30 minutes")
        .select(col("view_id"), col("purchase_id"))
    },

    // ----- n74: streaming TTL horizon, batch parity ---------------------
    // The LAST ungated streaming behavior (VERDICT r08 §missing #1):
    // StreamingNearDup's TTL bounds bucket memory to a dedup horizon —
    // an arriving doc only pairs against occupants admitted within
    // `ttl` of it; older entries have expired and never match. Batch
    // spelling (the n68/n72 discipline, arrival order = doc_id order
    // as the spec feeds the stream): the SAME band keys n68 derives,
    // with the horizon as a predicate ON the bucket join — exactly the
    // liveness check the stream's TTL state store applies on read —
    // then the exact-Jaccard verify. Candidates are a superset cut, so
    // the oracle is the exact dup set restricted to the horizon; the
    // stream's cap/saturation path is out of frame here (maxPerBucket
    // effectively unbounded), spec-covered in StreamingNearDupSpec.
    QuerySpec(
      "n74_stream_ttl_parity",
      s"""WITH $shingleCte,
         |${jaccardPairsCte(0.8)}
         |SELECT id_a, id_b, jaccard FROM dup
         |WHERE id_b - id_a <= 100""".stripMargin) { (s, d) =>
      // spread for the signature fold, as in n68 (no-op at scale)
      val docs = graft.operators.Partitioning.spread(t(s, d, "documents"))
      val shingled = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .select(col("doc_id"),
          TextOps.shinglesFromTokens(col("graft__ws"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .transform(graft.operators.Materialize.shared)
      val bk = StreamingNearDup.bandKeysFromSignatures(
        StreamingNearDup.signaturesFromShingles(
          shingled.select(col("doc_id"), col("sh").as("graft__sh"))))
        .transform(graft.operators.Materialize.shared)
      val candidates = bk.alias("l")
        .join(bk.alias("r"),
          col("l.bucket") === col("r.bucket") &&
            col("l.doc_id") < col("r.doc_id") &&
            // the TTL horizon: the older side must still be live when
            // the newer side arrives (100 arrival units)
            col("r.doc_id") - col("l.doc_id") <= 100)
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
        .distinct()
      candidates
        .join(shingled.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
          Seq("id_a"))
        .join(shingled.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
          Seq("id_b"))
        .withColumn("graft__i",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard", col("graft__i").cast("double") /
          (size(col("sh_a")).cast("long") +
            size(col("sh_b")).cast("long") - col("graft__i")))
        .filter(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },

    // ----- n75: weighted sampling (Efraimidis–Spirakis A-ES) ------------
    // Weighted sampling WITHOUT replacement: keep the k docs per
    // language with the smallest key = -ln(u)/w (Efraimidis & Spirakis
    // 2006) — equivalent to sampling proportional to weight w (here
    // token count: longer docs more likely kept, the length-biased
    // draw a token-budgeted corpus build uses). u is the deterministic
    // md5-residue uniform in (0, 1] (the n24 convention), so re-runs
    // are identical and the oracle computes the same draw. ln() is
    // engine-libm, but appears ONLY in the ordering key, never in the
    // output: adjacent key gaps are O(1/n) while libm disagreement is
    // ≤ 1 ulp (~1e-16), so the selected set is stable cross-engine.
    //
    // Scale shape: the key is map-only; selection is TWO-LEVEL top-k —
    // a local top-k per (lang, salt-of-id) bucket first, then the
    // final top-k over ≤ 32k survivors per lang. The global top-k per
    // lang is a subset of the per-bucket top-ks (each winner sits in
    // some bucket and is in that bucket's top-k), so the two levels
    // are exactly equivalent — and the hot-language reducer that a
    // one-level window would create at 100 TB (half the corpus is one
    // lang) never sees more than 32·k slim rows.
    QuerySpec(
      "n75_weighted_sample",
      s"""WITH w AS (SELECT doc_id, lang,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |        (${hex60("CAST(doc_id AS VARCHAR)")} + 1)
         |          / 1152921504606846976.0 AS u
         |      FROM documents)
         |SELECT doc_id, lang, n_tokens,
         |  CAST(row_number() OVER (PARTITION BY lang
         |                          ORDER BY -ln(u) / n_tokens, doc_id)
         |       AS BIGINT) AS rk
         |FROM w
         |QUALIFY rk <= 5""".stripMargin) { (s, d) =>
      val k = 5
      val keyed = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.nTokens(col("text")).as("n_tokens"),
          TextOps.hexHash60(col("doc_id").cast("string")).as("graft__h"))
        .withColumn("graft__key",
          -log((col("graft__h") + 1).cast("double") /
            lit(1152921504606846976.0)) / col("n_tokens"))
      TopK.twoLevel(keyed, Seq(col("lang")), pmod(col("graft__h"), lit(32L)),
        Seq(col("graft__key"), col("doc_id")), k)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("rk"))
    },

    // ----- n76: logistic-regression gradient step -----------------------
    // One batch gradient-descent step of a quality classifier — the
    // third member of the distributed-training family (n58 k-means,
    // n67 BPE): label y = (lang = 'en'), features (bias, token count,
    // char count), and the gradient Σ (σ(z) − y)·xⱼ reduced the n58
    // way — per-row contributions quantized to BIGINT nano-units so
    // the sum is EXACT integer math, independent of partitioning and
    // reduction order (a raw double sum would differ run-to-run AND
    // engine-to-engine). The activation is the rational fast sigmoid
    // 0.5 + z/(2(1+|z|)) — same shape, zero libm, bit-identical
    // cross-engine (exp() is not, see n26's idf note). Scale shape:
    // one map-only pass, one 3-column partial-agg shuffle of BIGINT
    // partials, then a 3-row stack — the per-step cost of distributed
    // GD at any corpus size. (BIGINT nano-unit headroom: |per-row|
    // < ~5e9, so overflow needs ~2e9 rows per gradient — a 100 TB run
    // scales the quantum down or sums in DECIMAL(38,0).)
    QuerySpec(
      "n76_logreg_step",
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
        |              ELSE CAST(0 AS DOUBLE) END AS y,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.01 AS x1,
        |    CAST(n_chars AS DOUBLE) * 0.001 AS x2
        |  FROM documents),
        |z AS (SELECT y, x1, x2,
        |        0.1 - 0.05 * x1 + 0.02 * x2 AS z FROM f),
        |r AS (SELECT x1, x2,
        |        (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS res FROM z),
        |q AS (SELECT
        |        CAST(floor(res * 1000000000.0) AS BIGINT) AS gq0,
        |        CAST(floor((res * x1) * 1000000000.0) AS BIGINT) AS gq1,
        |        CAST(floor((res * x2) * 1000000000.0) AS BIGINT) AS gq2
        |      FROM r),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(gq0) AS BIGINT) AS g0,
        |          CAST(sum(gq1) AS BIGINT) AS g1,
        |          CAST(sum(gq2) AS BIGINT) AS g2 FROM q)
        |SELECT CAST(0 AS BIGINT) AS feature, n, g0 AS gsum,
        |  0.1 - 0.1 * (CAST(g0 AS DOUBLE) / 1000000000.0
        |               / CAST(n AS DOUBLE)) AS w_new FROM agg
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), n, g1,
        |  -0.05 - 0.1 * (CAST(g1 AS DOUBLE) / 1000000000.0
        |                 / CAST(n AS DOUBLE)) FROM agg
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), n, g2,
        |  0.02 - 0.1 * (CAST(g2 AS DOUBLE) / 1000000000.0
        |                / CAST(n AS DOUBLE)) FROM agg""".stripMargin) { (s, d) =>
      val f = t(s, d, "documents").select(
        when(col("lang") === "en", lit(1.0d)).otherwise(lit(0.0d)).as("y"),
        (TextOps.nTokens(col("text")).cast("double") * lit(0.01))
          .as("graft__x1"),
        (col("n_chars").cast("double") * lit(0.001)).as("graft__x2"))
      val z = f.withColumn("graft__z",
        lit(0.1) - lit(0.05) * col("graft__x1") +
          lit(0.02) * col("graft__x2"))
      val r = z.select(col("graft__x1"), col("graft__x2"),
        ((lit(0.5) + col("graft__z") /
          (lit(2.0) * (lit(1.0) + abs(col("graft__z"))))) - col("y"))
          .as("graft__res"))
      val agg = r.agg(
        count(lit(1)).as("n"),
        sum(floor(col("graft__res") * lit(1000000000.0)).cast("long"))
          .as("g0"),
        sum(floor((col("graft__res") * col("graft__x1")) *
          lit(1000000000.0)).cast("long")).as("g1"),
        sum(floor((col("graft__res") * col("graft__x2")) *
          lit(1000000000.0)).cast("long")).as("g2"))
      agg
        .select(col("n"),
          expr("stack(3, 0L, g0, 0.1D, 1L, g1, -0.05D, 2L, g2, 0.02D)")
            .as(Seq("feature", "gsum", "graft__w")))
        .select(col("feature"), col("n"), col("gsum"),
          (col("graft__w") - lit(0.1) *
            (col("gsum").cast("double") / lit(1000000000.0) /
              col("n").cast("double"))).as("w_new"))
    },

    // ----- n77: dedup audit report --------------------------------------
    // The report every production dedup run emits before anyone trusts
    // its drop list: cluster-size histogram with docs kept/dropped per
    // bucket, plus the singleton row, reconciling to the corpus total.
    // Composes the n3→n30 pipeline (pairs → components → keep flags)
    // and adds only cluster-sized aggregations on top — the audit
    // itself never touches the corpus again, so its cost at 100 TB is
    // the dedup's cost plus a rollup over |clusters| rows.
    QuerySpec(
      "n77_dedup_audit",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |         FROM reach GROUP BY u),
         |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM comp GROUP BY 1),
         |hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |         FROM cs GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |cl AS (SELECT CAST(count(*) AS BIGINT) AS c FROM comp)
         |SELECT cluster_size, n_clusters,
         |  cluster_size * n_clusters AS n_docs,
         |  (cluster_size - 1) * n_clusters AS n_dropped
         |FROM hist
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), n - c, n - c, CAST(0 AS BIGINT)
         |FROM tot, cl WHERE n > c""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val tagged = DedupClusters.keepOnePerCluster(
        MinHashNearDup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8),
        "id_a", "id_b")
      val hist = tagged
        .groupBy(col("component"))
        .agg(count(lit(1)).as("graft__cs"))
        .groupBy(col("graft__cs").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
      // corpus total and clustered count ride in as broadcast 1-row
      // aggregates (the n26 pattern — no eager driver-side count)
      val singles = docs.agg(count(lit(1)).as("graft__n"))
        .crossJoin(tagged.agg(count(lit(1)).as("graft__c")))
        .filter(col("graft__n") > col("graft__c"))
        .select(lit(1L).as("cluster_size"),
          (col("graft__n") - col("graft__c")).as("n_clusters"),
          (col("graft__n") - col("graft__c")).as("n_docs"),
          lit(0L).as("n_dropped"))
      hist.unionByName(singles)
    },

    // ----- n78: batched multi-query ANN (the RAG retrieval shape) -------
    // Retrieval-augmented pipelines don't ask one query at a time: a
    // batch of Q query vectors scans the corpus ONCE and each takes its
    // own top-k. The query batch is metadata-sized → broadcast; scoring
    // is a map-only fused-cosine projection over the corpus (Q× row
    // blowup on the map side, never a shuffle of vectors); per-query
    // top-k is the n75 TWO-LEVEL pattern — local winners per
    // (query, salt-of-id) bucket first — because a one-level window
    // partitioned by query_id puts each query's whole corpus ranking on
    // ONE reducer (Q partitions total: the classic funnel). The global
    // top-k per query is a subset of the per-bucket top-ks, so the
    // levels are exactly equivalent.
    QuerySpec(
      "n78_multiquery_ann",
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 8)
        |SELECT query_id, vec_id,
        |  round(list_cosine_similarity(v, qv), 6) AS sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
        |                  vec_id)
        |       AS BIGINT) AS rk
        |FROM c CROSS JOIN q
        |QUALIFY rk <= 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.bruteMultiTopK(
        emb.filter(col("vec_id") >= 8), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", "embedding", k = 10)
    },

    // ----- n79: k-means TRAINING loop (multi-round Lloyd, exact) --------
    // The full training loop behind every centroid the engine consumes
    // (n35/n43/s23 IVF, n54 SemDeDup, n58 is ONE step of this): two
    // Lloyd rounds from the shared ±1 init, then the final assignment's
    // per-(cell, dim) stats. Bit-reproducible at any partitioning
    // because every round is exact integer arithmetic on a 1e-6
    // quantization grid (see KMeans scaladoc) — which is what lets the
    // oracle replay the ENTIRE loop in SQL (unrolled CTE per round).
    // Scale shape: centroids ride in one broadcast k×d row, assignment
    // is map-only, each round's sole exchange carries ≤ cells×dims
    // BIGINT partials — the corpus never shuffles, any round count.
    QuerySpec(
      "n79_kmeans_train",
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT * FROM (VALUES $kmCentValues) t(cell, qc)),
         |${kmRoundCte("c0", 1)},
         |${kmRoundCte("c1", 2)},
         |d3 AS (SELECT e.vec_id, e.qv, c.cell,
         |    list_sum(list_transform(range(1, 65),
         |      i -> (e.qv[i] - c.qc[i]) * (e.qv[i] - c.qc[i]))) AS dist
         |  FROM e CROSS JOIN c2 c),
         |a3 AS (SELECT vec_id, qv, cell FROM d3
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
         |x3 AS (SELECT cell, qv, unnest(generate_series(1, 64)) AS pos FROM a3)
         |SELECT cell, CAST(pos AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(qv[pos]) AS BIGINT) AS qsum,
         |  CAST(CAST(sum(qv[pos]) AS BIGINT) AS DOUBLE)
         |    / (1000000.0 * count(*)) AS centroid
         |FROM x3 GROUP BY 1, 2""".stripMargin) { (s, d) =>
      KMeans.train(t(s, d, "embeddings"), "vec_id", "embedding",
        kmInit, rounds = 2)
    },

    // ----- n80: quality-classifier inference (corpus scoring pass) ------
    // The APPLY side of n76's training step: score every document with
    // the trained weights and tag the keep decision — the
    // classifier-filter stage every modern corpus build runs (e.g.
    // fastText-style quality models). Same cross-engine arithmetic as
    // n76: rational fast sigmoid (zero libm — +,−,×,÷,abs are all IEEE
    // deterministic), so the scores are bit-identical, not just close.
    // Scale shape: pure map-only projection — no exchange at all; at
    // 100 TB this is a single fused scan.
    QuerySpec(
      "n80_classifier_apply",
      s"""WITH z AS (SELECT doc_id, lang,
         |    $qualityZSql AS z
         |  FROM documents)
         |SELECT doc_id, lang,
         |  ${qualityScoreSql("z")} AS score,
         |  (${qualityScoreSql("z")}) >= 0.5 AS keep
         |FROM z""".stripMargin) { (s, d) =>
      val z = t(s, d, "documents").select(
        col("doc_id"), col("lang"), qualityZCol.as("graft__z"))
      val score = qualityScoreCol(col("graft__z"))
      z.select(col("doc_id"), col("lang"), score.as("score"),
        (score >= lit(0.5)).as("keep"))
    },

    // ----- n81: temperature-flattened multilingual mixture --------------
    // The multilingual sampling-rate table (XLM-R / mBERT style):
    // low-resource languages are up-sampled by flattening the natural
    // token shares with temperature α = 0.5 — rate ∝ share^0.5. α=0.5
    // is the one temperature with an EXACT cross-engine spelling:
    // share^α = sqrt(n_l), and sqrt is IEEE correctly-rounded on both
    // engines (pow/exp are not — the n26 idf lesson). The sqrt weights
    // are floored onto a 1e-3 grid (qw = floor(sqrt(n_l·1e6)), exact
    // BIGINT) so the normalizing sum is ASSOCIATIVE integer math —
    // a raw double Σ√n would depend on language summation order.
    // Scale shape: one partial-agg pass over the corpus (per-lang token
    // counts), then lang-cardinality arithmetic with the totals riding
    // in as a broadcast 1-row aggregate.
    QuerySpec(
      "n81_temperature_mix",
      """WITH tl AS (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |q AS (SELECT lang, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) * 1000000.0)) AS BIGINT) AS qw
        |  FROM tl),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt,
        |    CAST(sum(qw) AS BIGINT) AS wt FROM q)
        |SELECT lang, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / nt AS share,
        |  CAST(qw AS DOUBLE) / wt AS rate
        |FROM q, tot""".stripMargin) { (s, d) =>
      val q = t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextOps.nTokens(col("text"))).as("n_tokens"))
        // double BEFORE scaling: an integer n_tokens·1e6 silently wraps
        // past 2^63 (Spark non-ANSI) while DuckDB errors — the double
        // product is the same exact value below 2^53 and stays finite
        // (identically rounded on both engines) above it
        .withColumn("graft__qw",
          floor(sqrt(col("n_tokens").cast("double") * lit(1000000.0)))
            .cast("long"))
      val tot = q.agg(sum(col("n_tokens")).as("graft__nt"),
        sum(col("graft__qw")).as("graft__wt"))
      q.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("graft__nt")).as("share"),
          (col("graft__qw").cast("double") / col("graft__wt")).as("rate"))
    },

    // ----- n82: IVF-bucketed multi-query ANN (batch retrieval at scale) -
    // n78's scale path, completing the retrieval family (single-query:
    // n4 brute / n5 LSH / n43 IVF; batch: n78 brute / THIS): each query
    // expands to its nprobe=2 probe cells, and candidate generation is
    // an EQUI-join on the cell — queries×nprobe slim rows broadcast
    // onto the corpus's map-side cell assignment, so each query scores
    // only nprobe/nlist of the data and the plan is a BroadcastHashJoin
    // (n78's cross join scores everything). Same two-level per-query
    // top-k. The oracle reproduces the full index: per-vector argmin
    // cell, per-query probe ranking (argmin-L2 ≡ argmax-dot on ±1
    // centroids, the n43 equivalence), member filter by join.
    QuerySpec(
      "n82_ivf_multiquery",
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 8),
         |p AS (SELECT query_id, qv,
         |        unnest(list_transform(${ivfRankSql("qv")}, s -> s.i)[1:2]) AS cell
         |      FROM q),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings WHERE vec_id >= 8)
         |SELECT query_id, vec_id,
         |  round(list_cosine_similarity(v, qv), 6) AS sim,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
         |                  vec_id)
         |       AS BIGINT) AS rk
         |FROM c JOIN p USING (cell)
         |QUALIFY rk <= 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.ivfMultiTopK(
        emb.filter(col("vec_id") >= 8), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", "embedding",
        centroids = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble)),
        nprobe = 2, k = 10)
    },

    // ----- n83: logistic-regression TRAINING loop (multi-step GD) -------
    // n76 is one gradient step; this is the LOOP — three full-batch GD
    // steps of the quality classifier, the n79 pattern applied to
    // logreg (the engine's fourth iterative trainer: k-means, BPE,
    // logreg). Reproducibility argument, per step: the gradient is a
    // sum of 1e-9-quantized BIGINT partials (exact, associative, any
    // partitioning), and the weight update is a fixed chain of IEEE
    // ops on exact integers — so the weights after EVERY step are
    // bit-identical cross-engine, which lets the oracle unroll the
    // whole loop. Scale shape: per step, one map-only pass over the
    // corpus + one 4-column partial-agg exchange; weights travel as a
    // broadcast 1-row table in both directions (never a collect).
    QuerySpec(
      "n83_logreg_train",
      s"""WITH f AS (
         |  SELECT CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
         |              ELSE CAST(0 AS DOUBLE) END AS y,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.01 AS x1,
         |    CAST(n_chars AS DOUBLE) * 0.001 AS x2
         |  FROM documents),
         |w0 AS (SELECT 0.1 AS w0, -0.05 AS w1, 0.02 AS w2),
         |${lrStepCte("w0", 1)},
         |${lrStepCte("w1", 2)},
         |${lrStepCte("w2", 3)}
         |SELECT CAST(0 AS BIGINT) AS feature, w0 AS w FROM w3
         |UNION ALL SELECT CAST(1 AS BIGINT), w1 FROM w3
         |UNION ALL SELECT CAST(2 AS BIGINT), w2 FROM w3""".stripMargin) {
      (s, d) =>
        val f = t(s, d, "documents").select(
          when(col("lang") === "en", lit(1.0d)).otherwise(lit(0.0d)).as("graft__y"),
          (TextOps.nTokens(col("text")).cast("double") * lit(0.01))
            .as("graft__x1"),
          (col("n_chars").cast("double") * lit(0.001)).as("graft__x2"))
        var w = s.range(1).select(lit(0.1d).as("graft__w0"),
          lit(-0.05d).as("graft__w1"), lit(0.02d).as("graft__w2"))
        for (_ <- 1 to 3) {
          val res = f.crossJoin(broadcast(w))
            .withColumn("graft__z",
              (col("graft__w0") + col("graft__w1") * col("graft__x1")) +
                col("graft__w2") * col("graft__x2"))
            .select(col("graft__x1"), col("graft__x2"),
              ((lit(0.5) + col("graft__z") /
                (lit(2.0) * (lit(1.0) + abs(col("graft__z"))))) -
                col("graft__y")).as("graft__res"))
          val g = res.agg(
            count(lit(1)).as("graft__n"),
            sum(floor(col("graft__res") * lit(1000000000.0)).cast("long"))
              .as("graft__g0"),
            sum(floor((col("graft__res") * col("graft__x1")) *
              lit(1000000000.0)).cast("long")).as("graft__g1"),
            sum(floor((col("graft__res") * col("graft__x2")) *
              lit(1000000000.0)).cast("long")).as("graft__g2"))
          def upd(wc: String, gc: String) =
            col(wc) - lit(0.1) * (col(gc).cast("double") /
              lit(1000000000.0) / col("graft__n").cast("double"))
          w = g.crossJoin(w).select(
            upd("graft__w0", "graft__g0").as("graft__w0"),
            upd("graft__w1", "graft__g1").as("graft__w1"),
            upd("graft__w2", "graft__g2").as("graft__w2"))
        }
        w.select(expr(
          "stack(3, 0L, graft__w0, 1L, graft__w1, 2L, graft__w2)")
          .as(Seq("feature", "w")))
    },

    // ----- n84: classifier evaluation (confusion matrix + metrics) ------
    // The eval gate between n83's training and n80's corpus-wide apply:
    // confusion matrix of the keep decision against the y = (lang='en')
    // label, with precision/recall/F1 as SINGLE divisions of exact
    // BIGINT counts (F1 spelled 2·tp/(2·tp+fp+fn) precisely so it stays
    // one exact division — the 2pr/(p+r) form would chain rounded
    // doubles). One map-only pass, one global partial agg — the cheap
    // always-on eval every model refresh should run.
    QuerySpec(
      "n84_classifier_eval",
      s"""WITH f AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    $qualityZSql AS z
         |  FROM documents),
         |p AS (SELECT y, CASE WHEN (${qualityScoreSql("z")}) >= 0.5
         |                     THEN 1 ELSE 0 END AS yhat FROM f),
         |m AS (SELECT
         |    CAST(sum(y * yhat) AS BIGINT) AS tp,
         |    CAST(sum((1 - y) * yhat) AS BIGINT) AS fp,
         |    CAST(sum(y * (1 - yhat)) AS BIGINT) AS fn,
         |    CAST(sum((1 - y) * (1 - yhat)) AS BIGINT) AS tn
         |  FROM p)
         |SELECT tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |       ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
         |FROM m""".stripMargin) { (s, d) =>
      val score = qualityScoreCol(col("graft__z"))
      val p = t(s, d, "documents")
        .select(when(col("lang") === "en", lit(1L)).otherwise(lit(0L))
          .as("graft__y"), qualityZCol.as("graft__z"))
        .select(col("graft__y"),
          when(score >= lit(0.5), lit(1L)).otherwise(lit(0L)).as("graft__p"))
      // degenerate-split guard: an empty predicted/actual class must be
      // NULL on BOTH engines (DuckDB's raw 0/0 is NaN, Spark's is NULL)
      def safeDiv(num: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column) =
        when(den === 0L, lit(null)).otherwise(num.cast("double") / den)
      p.agg(
        sum(col("graft__y") * col("graft__p")).as("tp"),
        sum((lit(1L) - col("graft__y")) * col("graft__p")).as("fp"),
        sum(col("graft__y") * (lit(1L) - col("graft__p"))).as("fn"),
        sum((lit(1L) - col("graft__y")) * (lit(1L) - col("graft__p")))
          .as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          safeDiv(col("tp"), col("tp") + col("fp")).as("precision"),
          safeDiv(col("tp"), col("tp") + col("fn")).as("recall"),
          safeDiv(lit(2L) * col("tp"),
            lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
    },

    // ----- n85: per-source data card (corpus datasheet in one pass) -----
    // The per-source report a dataset release ships (Datasheets for
    // Datasets, Gebru et al. 2021): docs, tokens, exact-dup fraction,
    // language share, mean quality score — every signal from ONE
    // grouped pass over the corpus. Cross-engine exactness: counts are
    // BIGINT; dup/en fractions are single divisions of exact counts;
    // the mean score quantizes the n80 sigmoid to 1e-9 BIGINT partials
    // (the n58/n76 discipline) so the per-source sum is
    // order-independent. The distinct-hash count shuffles md5 keys,
    // never text; at 100 TB this is the n44 two-phase shape Spark
    // plans automatically via Expand.
    QuerySpec(
      "n85_source_datacard",
      s"""WITH d AS (SELECT source, lang, md5(text) AS h,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |    $qualityZSql AS z
         |  FROM documents),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(nt) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT h) AS BIGINT) AS n_uniq,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_en,
         |    CAST(sum(CAST(floor((${qualityScoreSql("z")})
         |                        * 1000000000.0) AS BIGINT)) AS BIGINT) AS qs
         |  FROM d GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_uniq,
         |  CAST(n_docs - n_uniq AS DOUBLE) / n_docs AS dup_frac,
         |  CAST(n_en AS DOUBLE) / n_docs AS en_frac,
         |  CAST(qs AS DOUBLE) / 1000000000.0 / CAST(n_docs AS DOUBLE)
         |    AS mean_score
         |FROM s""".stripMargin) { (s, d) =>
      val score = qualityScoreCol(col("graft__z"))
      t(s, d, "documents")
        .select(col("source"), col("lang"), md5(col("text")).as("graft__h"),
          TextOps.nTokens(col("text")).as("graft__nt"),
          qualityZCol.as("graft__z"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("graft__nt")).as("n_tokens"),
          count_distinct(col("graft__h")).as("n_uniq"),
          sum(when(col("lang") === "en", lit(1L)).otherwise(lit(0L)))
            .as("graft__n_en"),
          sum(floor(score * lit(1000000000.0)).cast("long")).as("graft__qs"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_uniq"),
          ((col("n_docs") - col("n_uniq")).cast("double") / col("n_docs"))
            .as("dup_frac"),
          (col("graft__n_en").cast("double") / col("n_docs")).as("en_frac"),
          (col("graft__qs").cast("double") / lit(1000000000.0) /
            col("n_docs").cast("double")).as("mean_score"))
    },

    // ----- n86: relative quality filter (top-30% per language) ----------
    // FineWeb-style PERCENTILE filtering: an absolute score threshold
    // drifts as the corpus mix shifts, so production gates keep the top
    // X% per language instead. The scale problem: "top 30% of a group"
    // has no fixed k, and a per-lang rank window over the corpus is the
    // hot-language funnel. The scale-safe shape used here: quantize
    // scores to a 1e-4 grid, aggregate the corpus to a per-(lang,
    // bucket) HISTOGRAM (map-side partials; ≤ |grid| rows per lang),
    // run the cumulative window over the HISTOGRAM (tiny), derive each
    // language's 70th-percentile cutoff bucket in pure integer math
    // (cum·10 ≥ n·7 — no ratio doubles), and broadcast the 5-row
    // cutoff table back onto the corpus. Keep = strictly above the
    // cutoff bucket — bucket-exact semantics, deterministic
    // cross-engine because the score is bit-identical (n80) and
    // floor/integer compares are exact.
    QuerySpec(
      "n86_quality_percentile",
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(floor((${qualityScoreSql("z")}) * 10000.0)
         |         AS BIGINT) AS qs
         |  FROM (SELECT doc_id, lang,
         |      $qualityZSql AS z
         |    FROM documents)),
         |h AS (SELECT lang, qs, CAST(count(*) AS BIGINT) AS c
         |      FROM d GROUP BY 1, 2),
         |w AS (SELECT lang, qs, c,
         |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY qs) AS BIGINT)
         |      AS cum,
         |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM h),
         |cut AS (SELECT lang, CAST(min(qs) AS BIGINT) AS cutoff
         |  FROM w WHERE cum * 10 >= n * 7 GROUP BY lang)
         |SELECT doc_id, d.lang, qs, qs > cutoff AS kept
         |FROM d JOIN cut ON d.lang = cut.lang""".stripMargin) { (s, d) =>
      val score = qualityScoreCol(col("graft__z"))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), qualityZCol.as("graft__z"))
        .select(col("doc_id"), col("lang"),
          floor(score * lit(10000.0)).cast("long").as("qs"))
      val hist = docs.groupBy(col("lang"), col("qs"))
        .agg(count(lit(1)).as("graft__c"))
      // both the running and the total per-lang sums ride the SAME
      // partitioned histogram — no second aggregation, no totals join
      val cum = hist
        .withColumn("graft__cum",
          sum(col("graft__c"))
            .over(Window.partitionBy(col("lang")).orderBy(col("qs"))))
        .withColumn("graft__n",
          sum(col("graft__c")).over(Window.partitionBy(col("lang"))))
      val cutoffs = cum
        .filter(col("graft__cum") * 10 >= col("graft__n") * 7)
        .groupBy(col("lang"))
        .agg(min(col("qs")).as("graft__cutoff"))
      docs.join(broadcast(cutoffs), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("qs"),
          (col("qs") > col("graft__cutoff")).as("kept"))
    },

    // ----- n87: curriculum ordering (quality-phased epoch order) --------
    // Curriculum learning's data-side contract (Bengio et al. 2009):
    // present high-quality data first, random WITHIN each phase. Order
    // key = (quality bucket DESC, seeded shuffle hash, id) — bucket
    // from the shared classifier score (deterministic deciles), the
    // shuffle the n60 seeded md5 permutation, so a new seed re-deals
    // within buckets without touching the phase structure. The dense
    // global position is SurrogateKey.denseRowNumber (range shuffle +
    // per-partition offsets) because row_number() OVER (ORDER BY …) is
    // the single-partition funnel — same scale posture as n60, now
    // with a composite semantic key.
    QuerySpec(
      "n87_curriculum_order",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(floor((${qualityScoreSql("z")}) * 10.0) AS BIGINT) AS bucket,
         |    ${hex60("'c42:' || CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM (SELECT doc_id, $qualityZSql AS z FROM documents))
         |SELECT doc_id, bucket,
         |  CAST(row_number() OVER (ORDER BY bucket DESC, hk, doc_id)
         |       AS BIGINT) AS ord
         |FROM d""".stripMargin) { (s, d) =>
      val keyed = t(s, d, "documents")
        .select(col("doc_id"), qualityZCol.as("graft__z"))
        .select(col("doc_id"),
          floor(qualityScoreCol(col("graft__z")) * lit(10.0)).cast("long")
            .as("bucket"),
          TextOps.hexHash60(
            concat(lit("c42:"), col("doc_id").cast("string"))).as("graft__hk"))
      SurrogateKey
        .denseRowNumber(keyed, "ord",
          col("bucket").desc, col("graft__hk"), col("doc_id"))
        .select(col("doc_id"), col("bucket"), col("ord"))
    },

    // ----- n88: OOV rate against a frequency vocabulary -----------------
    // The tokenizer-eval metric between n33 (top-k vocabulary mining)
    // and n69 (BPE encoding): what fraction of each language's token
    // stream falls outside the corpus top-k vocabulary — the coverage
    // number that decides a vocab size. Top-20 is totally ordered
    // (freq DESC, word ASC) so both engines pick the same set; the
    // stream-side membership test is a BROADCAST left join (vocab is
    // k rows by construction) and the rate is one division of exact
    // BIGINT counts. One corpus pass; exchanges carry (lang, flag)
    // partials, never tokens.
    QuerySpec(
      "n88_oov_rate",
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |              FROM documents),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w),
        |v AS (SELECT w FROM wc ORDER BY f DESC, w LIMIT 20)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (v.w IS NULL) AS BIGINT) AS n_oov,
        |  CAST(count(*) FILTER (v.w IS NULL) AS DOUBLE) / count(*)
        |    AS oov_rate
        |FROM toks LEFT JOIN v ON toks.w = v.w
        |GROUP BY lang""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      val vocab = toks.groupBy(col("w"))
        .agg(count(lit(1)).as("graft__f"))
        .orderBy(col("graft__f").desc, col("w"))
        .limit(20)
        .select(col("w"), lit(1L).as("graft__in"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("graft__in").isNull, lit(1L)).otherwise(lit(0L)))
            .as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
    },

    // ----- s25: IVF index maintenance (delta refresh of cell stats) -----
    // The s24 incremental-aggregate pattern on the VECTOR warehouse: an
    // IVF layout's per-cell occupancy stats (what nprobe tuning and
    // cell-rebalance decisions read) refreshed by merging a new vector
    // batch's assignment partials with the STORED stats — the indexed
    // corpus is never rescanned. The refresh plan reads exactly two
    // inputs (plan-pinned): the stats file (cells, not vectors) and
    // the delta rows; cell assignment on the delta is the same
    // map-only NearestCell projection the index itself uses. The
    // oracle recomputes both generations from scratch and proves
    // merged == full recompute. Cells present on one side only
    // survive via the full-outer merge.
    QuerySpec(
      "s25_ivf_refresh",
      s"""WITH c AS (SELECT vec_id,
         |    ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |  FROM embeddings)
         |SELECT cell,
         |  CAST(count(*) FILTER (vec_id % 10 <> 0) AS BIGINT) AS n_before,
         |  CAST(count(*) FILTER (vec_id % 10 = 0) AS BIGINT) AS n_delta,
         |  CAST(count(*) AS BIGINT) AS n_total
         |FROM c GROUP BY cell""".stripMargin) { (s, d) =>
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val path = "target/sinks/s25_ivf_stats"
      val emb = t(s, d, "embeddings")
      def celled(df: DataFrame) = df.withColumn("cell",
        Similarity.nearestCell(Similarity.asDouble(col("embedding")), cents))
      // the stored index stats: the existing corpus aggregated away
      celled(emb.filter(col("vec_id") % 10 =!= 0))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_before"))
        .write.mode("overwrite").parquet(path)
      // the refresh: stored stats + the delta batch's assignment
      // partials — exactly two scans, the indexed corpus untouched
      val delta = celled(emb.filter(col("vec_id") % 10 === 0))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_delta"))
      s.read.parquet(path)
        .join(delta, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          (coalesce(col("n_before"), lit(0L)) +
            coalesce(col("n_delta"), lit(0L))).as("n_total"))
    },

    // ----- n89: token-distribution drift between corpus snapshots -------
    // The data-drift monitor a continuously-crawled corpus runs between
    // releases: per-token occurrence-rate deltas across two snapshots
    // (here the deterministic doc_id-parity split), top movers first.
    // Exactness: each rate is ONE division of exact BIGINTs (bit-
    // identical doubles), and the drift |rate_a − rate_b| is a single
    // IEEE subtraction of two such doubles — deterministic cross-engine
    // with no quantization needed. Tokens present in only one snapshot
    // survive via the full-outer vocab join (vocab-sized, not corpus-
    // sized); totals ride in as a broadcast 1-row aggregate; top-10 is
    // TakeOrdered. Shuffles carry (token, count) — never documents.
    QuerySpec(
      "n89_token_drift",
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w,
        |    CAST(count(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS na,
        |    CAST(count(*) FILTER (doc_id % 2 = 1) AS BIGINT) AS nb
        |  FROM toks GROUP BY w),
        |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
        |               CAST(sum(nb) AS BIGINT) AS tb FROM c)
        |SELECT w AS tok, na AS n_a, nb AS n_b,
        |  CASE WHEN ta = 0 THEN NULL
        |       ELSE CAST(na AS DOUBLE) / ta END AS rate_a,
        |  CASE WHEN tb = 0 THEN NULL
        |       ELSE CAST(nb AS DOUBLE) / tb END AS rate_b,
        |  CASE WHEN ta = 0 OR tb = 0 THEN NULL
        |       ELSE abs(CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
        |  END AS drift
        |FROM c, tot
        |ORDER BY drift DESC, tok LIMIT 10""".stripMargin) { (s, d) =>
      // ONE tokenize pass: per-token counts for both snapshots via
      // conditional aggregation (no full-outer vocab join, no extra
      // total-count scans); totals are a second VOCAB-sized agg.
      // Zero-denominator guard (an empty snapshot): NULL on BOTH
      // engines — DuckDB's raw x/0 is inf/NaN, Spark's is NULL (the
      // n84 lesson).
      val counts = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w"))
        .agg(
          sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
            .as("graft__na"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
            .as("graft__nb"))
      val tot = counts.agg(sum(col("graft__na")).as("graft__ta"),
        sum(col("graft__nb")).as("graft__tb"))
      def rate(n: String, t: String) =
        when(col(t) === 0L, lit(null))
          .otherwise(col(n).cast("double") / col(t))
      counts.crossJoin(broadcast(tot))
        .select(col("w").as("tok"),
          col("graft__na").as("n_a"), col("graft__nb").as("n_b"),
          rate("graft__na", "graft__ta").as("rate_a"),
          rate("graft__nb", "graft__tb").as("rate_b"),
          when(col("graft__ta") === 0L || col("graft__tb") === 0L, lit(null))
            .otherwise(abs(
              col("graft__na").cast("double") / col("graft__ta") -
                col("graft__nb").cast("double") / col("graft__tb")))
            .as("drift"))
        .orderBy(col("drift").desc, col("tok"))
        .limit(10)
    },

    // ----- n90: log2-bucketed length histogram (distribution monitor) ---
    // The length-distribution snapshot every corpus release records:
    // per-language doc counts in power-of-two token-length buckets.
    // The log2 bucket needs NO libm: bucket = len(bin(n)) = ⌊log2 n⌋+1
    // — `bin` (binary string) exists with identical semantics on both
    // engines, so the bucket id is integer-exact; the bucket floor is
    // an integer shift. Map-only projection + one grouped partial agg.
    QuerySpec(
      "n90_length_histogram",
      """SELECT lang,
        |  CAST(length(bin(len(string_split(text, ' ')))) AS BIGINT)
        |    AS bucket,
        |  CAST(1 << (CAST(length(bin(len(string_split(text, ' ')))) AS INT)
        |             - 1) AS BIGINT) AS lo,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          length(bin(TextOps.nTokens(col("text")))).cast("long").as("bucket"))
        .withColumn("lo",
          expr("CAST(shiftleft(1, CAST(bucket AS INT) - 1) AS BIGINT)"))
        .groupBy(col("lang"), col("bucket"), col("lo"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // ----- n91: cross-modal cell-language profile -----------------------
    // The first cross-TABLE op of the pipeline family: join the text
    // corpus to its embeddings (shared ids) and profile each IVF cell's
    // language mix — the cluster-content report that tells you whether
    // a semantic cell is language-pure (and whether SemDeDup inside it
    // risks cross-language collapses). Scale shape: the cell assignment
    // is the map-only NearestCell projection; the doc↔vector join is
    // CORPUS×CORPUS, so the correct 100 TB plan is a co-partitioned
    // shuffle join ON IDS ONLY — both sides are projected to (id, key)
    // before the join, so the exchanges carry ids and cells/langs,
    // never text or vectors (plan-pinned). Shares are single divisions
    // over the cells×langs aggregate, with the per-cell total as a
    // window over that tiny relation.
    QuerySpec(
      "n91_cell_lang_profile",
      s"""WITH c AS (SELECT vec_id,
         |    ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |  FROM embeddings),
         |j AS (SELECT c.cell, d.lang
         |      FROM c JOIN documents d ON d.doc_id = c.vec_id),
         |g AS (SELECT cell, lang, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM j GROUP BY 1, 2)
         |SELECT cell, lang, n_docs,
         |  CAST(n_docs AS DOUBLE)
         |    / CAST(sum(n_docs) OVER (PARTITION BY cell) AS BIGINT) AS share
         |FROM g""".stripMargin) { (s, d) =>
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val cells = t(s, d, "embeddings")
        .select(col("vec_id"),
          Similarity.nearestCell(Similarity.asDouble(col("embedding")), cents)
            .as("cell"))
      val g = t(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .join(cells, col("doc_id") === col("vec_id"))
        .groupBy(col("cell"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      g.withColumn("share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy(col("cell"))))
    },

    // ----- n92: embedding-norm QA scoring (vector sanity report) --------
    // The pre-index vector QA pass: z-score every embedding's squared
    // norm against the corpus distribution — truncated/zeroed/blown-up
    // vectors (the classic upstream-encoder failure modes) land in the
    // tails. The n34 exact-moments discipline on the vector modality:
    // norms are exact BIGINT sums of 1e-6-grid squares, coarsened to a
    // 1e-7 grid (positive ⇒ floor-division is identical truncation on
    // both engines) so Σx² stays in BIGINT to ~1e5 rows per stat
    // group at this magnitude (production: DECIMAL(38) partials, the
    // n76 note); mean/σ/z are then the identical IEEE tree over
    // identical integers — bit-identical, no quantization of z needed
    // beyond the cross-engine round(6). Zero-variance guarded by the
    // exact integer predicate. One map pass + one global agg.
    QuerySpec(
      "n92_embed_norm_qa",
      """WITH q AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(
        |      list_transform(CAST(embedding AS DOUBLE[]),
        |        x -> CAST(floor(x * 1000000.0) AS BIGINT)),
        |      x -> x * x)) AS BIGINT) // 10000000 AS nq
        |  FROM embeddings),
        |st AS (SELECT count(*) AS n, CAST(sum(nq) AS BIGINT) AS s,
        |    CAST(sum(nq * nq) AS BIGINT) AS sq FROM q)
        |SELECT vec_id, nq,
        |  round((nq - CAST(s AS DOUBLE) / n) /
        |    sqrt(CAST(sq AS DOUBLE) / n -
        |         (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)), 6) AS z
        |FROM q, st
        |WHERE CAST(n AS DOUBLE) * sq > CAST(s AS DOUBLE) * s""".stripMargin) {
      (s, d) =>
      val q = t(s, d, "embeddings")
        .select(col("vec_id"),
          expr("""CAST(aggregate(
            |  transform(CAST(embedding AS array<double>),
            |    x -> CAST(floor(x * 1000000.0D) AS BIGINT)),
            |  0L, (a, x) -> a + x * x) AS BIGINT) div 10000000L"""
            .stripMargin).as("nq"))
      val st = q.agg(count(lit(1)).as("graft__n"),
        sum(col("nq")).as("graft__s"),
        sum(col("nq") * col("nq")).as("graft__sq"))
      val mean = col("graft__s").cast("double") / col("graft__n")
      q.crossJoin(broadcast(st))
        // zero-variance guard in EXPLICIT double on both engines: the
        // n34-style integer spelling n·Σx² > (Σx)² overflows BIGINT at
        // these magnitudes (s² > 2^63 past ~2e5 rows — the 100× drill
        // found it; DuckDB silently promotes to HUGEINT while ANSI
        // Spark errors). The double products round identically on both
        // engines, so the guard stays deterministic.
        .filter(col("graft__n").cast("double") * col("graft__sq") >
          col("graft__s").cast("double") * col("graft__s"))
        .select(col("vec_id"), col("nq"),
          round((col("nq") - mean) /
            sqrt(col("graft__sq").cast("double") / col("graft__n") -
              mean * mean), 6).as("z"))
    },

    // ----- n93: trained-centroid distance audit -------------------------
    // The index-health report run after every k-means refresh (n79):
    // the k×k inter-centroid squared-distance matrix over the TRAINED
    // quantized model — cells collapsing toward each other are merge
    // candidates and make nprobe ranking unstable. Consumes
    // KMeans.trainedCentroidRow (the model as a first-class artifact,
    // not a re-derivation); distances are exact BIGINT sums on the
    // 1e-6 grid, and the oracle replays the whole 2-round training to
    // the same quantized centroids before measuring. Cost beyond the
    // training itself: a k×k join of k rows.
    QuerySpec(
      "n93_centroid_audit",
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT * FROM (VALUES $kmCentValues) t(cell, qc)),
         |${kmRoundCte("c0", 1)},
         |${kmRoundCte("c1", 2)}
         |SELECT a.cell AS cell_a, b.cell AS cell_b,
         |  CAST(list_sum(list_transform(range(1, 65),
         |    i -> (a.qc[i] - b.qc[i]) * (a.qc[i] - b.qc[i]))) AS BIGINT)
         |    AS dist2
         |FROM c2 a JOIN c2 b ON a.cell < b.cell""".stripMargin) { (s, d) =>
      val cents = KMeans.trainedCentroidRow(
        t(s, d, "embeddings"), "vec_id", "embedding", kmInit, rounds = 2)
      val rows = cents
        .select(posexplode(col("graft__cents")).as(Seq("cell", "graft__arr")))
      rows.alias("a")
        .join(rows.alias("b"), col("a.cell") < col("b.cell"))
        .select(col("a.cell").as("cell_a"), col("b.cell").as("cell_b"),
          aggregate(
            zip_with(col("a.graft__arr"), col("b.graft__arr"),
              (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v).as("dist2"))
    },

    // ----- n94: session → training-sequence assembly --------------------
    // The dialog/behavioral-data prep step between sessionization (n15)
    // and sequence packing (n38): each user session becomes ONE ordered
    // training sequence — its event types concatenated in
    // (ts, event_id)-total order. Consumes Sessionize.tagged (the same
    // island logic n15 rolls up, now per-event), so session boundaries
    // cannot drift between the rollup and the assembly. Ordered
    // concatenation without a second corpus sort: sort_array over the
    // per-session collect_list (sessions are bounded — the per-group
    // sort is local and tiny), shuffles carry event types never
    // payloads. Deterministic: the order key (ts, event_id) is total,
    // and both engines concatenate the identical ordered list.
    QuerySpec(
      "n94_session_sequences",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |g AS (SELECT user_id, event_id, event_type, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR date_diff('second',
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |  THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, event_id, event_type, ts,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
        |FROM s GROUP BY user_id, session_id""".stripMargin) { (s, d) =>
      Sessionize
        .tagged(t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts")),
          "ts", gapMinutes = 30)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws(" ",
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"),
                col("event_type").as("et")))),
              x => x.getField("et"))).as("seq"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("seq"))
    },

    // ----- n95: fuzzy benchmark decontamination (MinHash-LSH) -----------
    // Completes the decontamination trio: n36 catches exact n-gram
    // collisions, n71 semantic (embedding) proximity — this catches
    // NEAR-DUPLICATE benchmark leaks (paraphrased/lightly-edited eval
    // items, the Lee et al. 2022 fuzzy-dedup concern applied to
    // decontamination). Same scale shape as n36: the benchmark side is
    // tiny, so its band keys AND shingle sets broadcast; the corpus
    // contributes one map-only per-row sketch fold and never shuffles —
    // candidates come from the broadcast band join, exact-Jaccard
    // verify removes LSH false positives, and the oracle computes the
    // exact cross-set answer (recall argument = n3's: FN mass ≪ 1e-6
    // at τ=0.8 under the 20-band geometry). One row per contaminated
    // doc: its best-matching benchmark item (j DESC, id tiebreak; the
    // rank window runs over flagged docs only — a tiny relation).
    QuerySpec(
      "n95_fuzzy_decontam",
      s"""WITH $shingleCte,
         |lab AS (SELECT doc_id, source FROM documents),
         |bsh AS (SELECT sh.doc_id, shingle FROM sh JOIN lab USING (doc_id)
         |        WHERE source = 'src0'),
         |csh AS (SELECT sh.doc_id, shingle FROM sh JOIN lab USING (doc_id)
         |        WHERE source <> 'src0'),
         |bn AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
         |cn AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
         |pair AS (SELECT c.doc_id AS cid, b.doc_id AS bid, count(*) AS i
         |  FROM csh c JOIN bsh b ON c.shingle = b.shingle GROUP BY 1, 2)
         |SELECT cid AS doc_id, bid AS bench_id,
         |  CAST(i AS DOUBLE) / (cn.n + bn.n - i) AS jaccard
         |FROM pair JOIN cn ON cn.doc_id = cid JOIN bn ON bn.doc_id = bid
         |WHERE CAST(i AS DOUBLE) / (cn.n + bn.n - i) >= 0.8
         |QUALIFY row_number()
         |  OVER (PARTITION BY cid ORDER BY jaccard DESC, bid) = 1""".stripMargin) {
      (s, d) =>
      val docs = graft.operators.Partitioning.spread(t(s, d, "documents"))
      val shingled = docs
        .select(col("doc_id"), col("source"),
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .transform(graft.operators.Materialize.shared)
      def bands(df: DataFrame) = StreamingNearDup.bandKeysFromSignatures(
        StreamingNearDup.signaturesFromShingles(
          df.select(col("doc_id"), col("sh").as("graft__sh"))))
      val benchSh = shingled.filter(col("source") === "src0")
      val corpSh = shingled.filter(col("source") =!= "src0")
      val flagged = bands(corpSh).alias("c")
        .join(broadcast(bands(benchSh)).alias("b"),
          col("c.bucket") === col("b.bucket"))
        .select(col("c.doc_id").as("doc_id"), col("b.doc_id").as("bench_id"))
        .distinct()
        .join(corpSh.select(col("doc_id"), col("sh").as("graft__shc")),
          Seq("doc_id"))
        .join(broadcast(benchSh.select(col("doc_id").as("bench_id"),
          col("sh").as("graft__shb"))), Seq("bench_id"))
        .withColumn("graft__i",
          size(array_intersect(col("graft__shc"), col("graft__shb")))
            .cast("long"))
        .withColumn("jaccard", col("graft__i").cast("double") /
          (size(col("graft__shc")).cast("long") +
            size(col("graft__shb")).cast("long") - col("graft__i")))
        .filter(col("jaccard") >= 0.8)
      flagged
        .withColumn("graft__rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("jaccard").desc, col("bench_id"))))
        .filter(col("graft__rk") === 1)
        .select(col("doc_id"), col("bench_id"), col("jaccard"))
    },

    // ----- n96: water-filling token-budget allocation -------------------
    // The budget allocator BETWEEN n81's temperature weights and n55's
    // admission rates: split a global token budget (90% of the corpus)
    // fairly across languages, CAP each language at what it actually
    // has, and redistribute the freed surplus to the uncapped ones —
    // one unrolled round of the classic water-filling fixpoint (the
    // low-resource langs cap in round 1 at this corpus's skew; 'en'
    // absorbs the surplus in round 2, at every SF). Everything is
    // BIGINT floor arithmetic on positive values (`div` ≡ DuckDB `//`
    // for non-negatives) — exact, associative, replayable. Corpus cost
    // is ONE grouped token count; the allocation itself is
    // lang-cardinality arithmetic with 1-row totals broadcast twice.
    QuerySpec(
      "n96_budget_waterfill",
      """WITH a AS (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
        |  FROM documents GROUP BY lang),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS ns,
        |    CAST(sum(avail) AS BIGINT) AS total FROM a),
        |r1 AS (SELECT lang, avail,
        |    least(avail, (total * 9 // 10) // ns) AS take1,
        |    total * 9 // 10 AS b
        |  FROM a, p),
        |s1 AS (SELECT CAST(sum(take1) AS BIGINT) AS taken,
        |    CAST(count(*) FILTER (avail > take1) AS BIGINT) AS elig FROM r1)
        |SELECT lang, avail, take1,
        |  CASE WHEN avail > take1 AND elig > 0
        |       THEN least(avail, take1 + (b - taken) // elig)
        |       ELSE take1 END AS allocated
        |FROM r1, s1""".stripMargin) { (s, d) =>
      val a = t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(TextOps.nTokens(col("text"))).as("avail"))
      val p = a.agg(count(lit(1)).as("graft__ns"),
        sum(col("avail")).as("graft__total"))
      val r1 = a.crossJoin(broadcast(p))
        .withColumn("graft__b", expr("graft__total * 9L div 10L"))
        .withColumn("take1",
          least(col("avail"), expr("graft__b div graft__ns")))
      val s1 = r1.agg(sum(col("take1")).as("graft__taken"),
        sum(when(col("avail") > col("take1"), 1L).otherwise(0L))
          .as("graft__elig"))
      r1.crossJoin(broadcast(s1))
        .select(col("lang"), col("avail"), col("take1"),
          when(col("avail") > col("take1") && col("graft__elig") > 0,
            least(col("avail"), col("take1") +
              expr("(graft__b - graft__taken) div graft__elig")))
            .otherwise(col("take1")).as("allocated"))
    },

    // ----- n97: ANN recall@k audit (exact vs IVF partial probe) ---------
    // The metric every approximate-retrieval deployment monitors before
    // trading exactness for probe fraction: per query, how many of the
    // true top-k does the nprobe=2 IVF path return? Composes the two
    // batch retrieval operators (n78 exact, n82 IVF — identical
    // configs) and intersects their id sets; recall is one exact
    // n_hits/k division. The retrieval RESULTS are queries×k rows —
    // metadata, not corpus — so the audit itself is join-of-broadcasts
    // regardless of corpus size; zero-hit queries stay in the output
    // via the left join (the failure you most need to see).
    QuerySpec(
      "n97_ann_recall",
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings WHERE vec_id >= 8),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
         |               vec_id) AS rk
         |  FROM c CROSS JOIN q) WHERE rk <= 10),
         |p AS (SELECT query_id, qv,
         |        unnest(list_transform(${ivfRankSql("qv")}, s -> s.i)[1:2]) AS cell
         |      FROM q),
         |ap AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
         |               vec_id) AS rk
         |  FROM c JOIN p USING (cell)) WHERE rk <= 10),
         |h AS (SELECT query_id, count(*) AS n_hits
         |      FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(n_hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |FROM q LEFT JOIN h USING (query_id)""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 8)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteMultiTopK(
        corpus, "vec_id", "embedding",
        queries, "query_id", "embedding", k = 10)
      val approx = Similarity.ivfMultiTopK(
        corpus, "vec_id", "embedding",
        queries, "query_id", "embedding",
        centroids = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble)),
        nprobe = 2, k = 10)
      Similarity.recallAtK(exact, approx, "query_id", "vec_id", k = 10)
    },

    // ----- n98: distributed Gramian power-iteration step ----------------
    // One step y = (Σ_v v vᵀ)·1 of dominant-direction extraction over
    // the embedding corpus (the PCA/spectral building block), with the
    // d×d Gramian NEVER materialized: y_j = Σ_v v_j·(Σ_i v_i), so each
    // row contributes a scalar-scaled copy of itself. Exact fixed-point
    // BIGINT arithmetic on the 1e-3 grid (associative, any
    // partitioning); the only exchange is the d-row dimension
    // aggregate, shrunk by map-side partials — the corpus never
    // shuffles. See Similarity.gramPowerStep for the overflow headroom
    // argument (~1.4e11 rows at this grid/dim).
    QuerySpec(
      "n98_gram_power",
      """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |             x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
        |           FROM embeddings),
        |s AS (SELECT qv, CAST(list_sum(qv) AS BIGINT) AS sv FROM e),
        |x AS (SELECT unnest(qv) AS q, generate_subscripts(qv, 1) AS dim, sv
        |      FROM s)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(sum(q * sv) AS BIGINT) AS y
        |FROM x GROUP BY 1""".stripMargin) { (s, d) =>
      Similarity.gramPowerStep(t(s, d, "embeddings"), "embedding")
    },

    // ----- n99: DSIR-style importance weights (data selection) ----------
    // Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): score every document by how much more likely
    // its tokens are under the TARGET distribution (here: the 'en'
    // slice) than under the full-corpus background — the ranking that
    // decides what a domain-targeted training mix keeps. Add-one
    // smoothed unigram models; each token's likelihood ratio is ONE
    // double division of exact integer products quantized to the 1e-6
    // grid, and a doc's score is the exact BIGINT sum of its tokens'
    // ratios (libm-free — see ImportanceWeights scaladoc). Scale
    // shape: vocab-sized count aggs, ratio table broadcast back onto
    // the map-only token stream; the corpus text never shuffles.
    QuerySpec(
      "n99_dsir_weights",
      """WITH tok AS (SELECT doc_id, lang = 'en' AS t,
        |               unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |c AS (SELECT w, count(*) AS cb, count(*) FILTER (t) AS ct
        |      FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(cb) AS BIGINT) AS nb,
        |          CAST(sum(ct) AS BIGINT) AS nt,
        |          CAST(count(*) AS BIGINT) AS v
        |        FROM c),
        |r AS (SELECT w,
        |        CAST(round(1000000.0 *
        |          (CAST(ct + 1 AS DOUBLE) * CAST(nb + v AS DOUBLE)) /
        |          (CAST(cb + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE)))
        |          AS BIGINT) AS r
        |      FROM c, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(r) AS BIGINT) AS score
        |FROM tok JOIN r USING (w) GROUP BY 1""".stripMargin) { (s, d) =>
      ImportanceWeights.unigram(
        t(s, d, "documents"), "doc_id", "text", col("lang") === "en")
    },

    // ----- n100: keep-BEST canonical doc per duplicate cluster ----------
    // n30 resolves clusters and keeps the min-id doc; a production
    // dedup pipeline keeps the BEST copy — dropping the higher-quality
    // duplicate because it has the higher id throws away signal for
    // free. Same MinHash pair source and CC resolution as n30, then
    // one argmax-by-(n_chars, id) per component via min(struct) — one
    // agg exchange of two-long structs, never text. Singletons are
    // their own component and representative (the CC fixpoint only
    // ever sees pair participants; the full corpus enters via a
    // broadcastable left join on id).
    QuerySpec(
      "n100_cluster_rep",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |lab AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |        FROM reach GROUP BY u),
         |alldocs AS (SELECT d.doc_id,
         |              coalesce(lab.component, d.doc_id) AS component,
         |              d.n_chars
         |            FROM documents d LEFT JOIN lab USING (doc_id)),
         |rk AS (SELECT component, doc_id, n_chars,
         |         row_number() OVER (PARTITION BY component
         |                            ORDER BY n_chars DESC, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY component) AS n_docs
         |       FROM alldocs)
         |SELECT CAST(component AS BIGINT) AS component,
         |  CAST(doc_id AS BIGINT) AS rep_id,
         |  CAST(n_chars AS BIGINT) AS rep_score,
         |  CAST(n_docs AS BIGINT) AS n_docs
         |FROM rk WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      DedupClusters.bestPerCluster(
        MinHashNearDup.nearDupPairs(
          docs, "doc_id", "text", threshold = 0.8),
        "id_a", "id_b",
        docs, "doc_id", "n_chars")
    },

    // ----- n101: token-balanced shard assignment (writer balancing) -----
    // The last step before a training corpus hits disk: deal documents
    // to N output shards so per-shard token mass is balanced,
    // deterministically (same inputs → same layout at any parallelism).
    // Boustrophedon fold over the size-descending global rank — each
    // 2N-window gives every shard one large and one small pick, the
    // near-LPT guarantee without LPT's sequential state. The rank is
    // SurrogateKey.denseRowNumber (range repartition + broadcast
    // offsets), NOT a one-partition row_number window — the canonical
    // 100 TB funnel this operator exists to avoid.
    // ----- n102: cross-document duplicated-span coverage ----------------
    // The ExactSubstr decision signal (Lee et al. 2021,
    // arXiv:2107.06499): per document, the fraction of token positions
    // covered by a 5-gram that also occurs in >= 2 DISTINCT documents —
    // boilerplate/license/template text the corpus repeats across docs
    // (n61 catches the within-doc axis; this is the cross-doc one, and
    // it genuinely needs the corpus-wide fingerprint exchange n61
    // avoids). Shuffles carry (fp, doc, pos) longs with two-level
    // partials; matched positions per doc are bounded by doc length
    // and the interval union is a per-row array op — text never
    // shuffles. See CrossDupSpans scaladoc.
    QuerySpec(
      "n102_dup_spans",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |             len(string_split(text, ' ')) AS n
         |           FROM documents),
         |g AS (SELECT doc_id, ws, unnest(generate_series(1, n - 4)) AS p
         |      FROM t WHERE n >= 5),
         |gg AS (SELECT doc_id, p,
         |         ${hex60("array_to_string(ws[p : p+4], ' ')")} AS fp
         |       FROM g),
         |df AS (SELECT fp FROM (
         |         SELECT fp, count(DISTINCT doc_id) AS nd FROM gg GROUP BY 1)
         |       WHERE nd >= 2),
         |oc AS (SELECT doc_id, p FROM gg JOIN df USING (fp)),
         |cov AS (SELECT DISTINCT doc_id,
         |          unnest(generate_series(p, p + 4)) AS pos
         |        FROM oc),
         |nc AS (SELECT doc_id, count(*) AS nc FROM cov GROUP BY 1)
         |SELECT t.doc_id, n AS n_tokens,
         |  CAST(coalesce(nc, 0) AS BIGINT) AS n_covered,
         |  CAST(coalesce(nc, 0) AS DOUBLE) / n AS dup_span_frac
         |FROM t LEFT JOIN nc ON t.doc_id = nc.doc_id""".stripMargin) {
      (s, d) =>
        CrossDupSpans.coverage(t(s, d, "documents"), "doc_id", "text", n = 5)
    },

    // ----- n115: pipeline drop provenance (governance audit) ------------
    // The audit trail behind n40's training set: every input doc
    // labeled with the FIRST rule that dropped it (exact_dup →
    // near_dup → contaminated → length_gate → sampled_out) or kept —
    // what a data-governance review asks of any dedup/filter pipeline
    // ("why is this document not in the corpus?"). Same stage builder
    // as trainingSet (CorpusPipeline.buildStages — one builder, no
    // drift); verdicts are id-keyed left joins of the 16-byte drop
    // lists plus one per-row CASE. The oracle replays the n40 stage
    // CTEs and spells the same priority chain.
    QuerySpec(
      "n115_drop_provenance",
      s"""WITH RECURSIVE
         |raw AS (SELECT doc_id, text, lang, source FROM documents
         |        WHERE source <> 'src0'),
         |bench AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
         |exdrop AS (SELECT doc_id FROM (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |  FROM raw) WHERE doc_id <> keep_id),
         |ex AS (SELECT * FROM raw WHERE doc_id NOT IN (SELECT doc_id FROM exdrop)),
         |toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM ex),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    w || ' ' || lead(w, 1) OVER win3 || ' ' || lead(w, 2) OVER win3 AS shingle
         |  FROM toks WINDOW win3 AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY shingle IS NOT NULL),
         |shn AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pair AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT id_a, id_b FROM pair
         |  JOIN shn ca ON ca.doc_id = id_a
         |  JOIN shn cb ON cb.doc_id = id_b
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8),
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |nddrop AS (SELECT u AS doc_id FROM reach GROUP BY u
         |           HAVING u <> least(u, min(v))),
         |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
         |t5 AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM nd),
         |sh5 AS (
         |  SELECT DISTINCT doc_id,
         |    w || ' ' || lead(w, 1) OVER win5 || ' ' || lead(w, 2) OVER win5
         |      || ' ' || lead(w, 3) OVER win5 || ' ' || lead(w, 4) OVER win5 AS shingle
         |  FROM t5 WINDOW win5 AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY shingle IS NOT NULL),
         |tb AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM bench),
         |b5 AS (
         |  SELECT DISTINCT
         |    w || ' ' || lead(w, 1) OVER winb || ' ' || lead(w, 2) OVER winb
         |      || ' ' || lead(w, 3) OVER winb || ' ' || lead(w, 4) OVER winb AS shingle
         |  FROM tb WINDOW winb AS (PARTITION BY doc_id ORDER BY pos)
         |  QUALIFY shingle IS NOT NULL),
         |contam AS (SELECT DISTINCT doc_id FROM sh5
         |           WHERE shingle IN (SELECT shingle FROM b5))
         |SELECT r.doc_id,
         |  CASE WHEN r.doc_id IN (SELECT doc_id FROM exdrop) THEN 'exact_dup'
         |       WHEN r.doc_id IN (SELECT doc_id FROM nddrop) THEN 'near_dup'
         |       WHEN r.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
         |       WHEN CAST(len(string_split(r.text, ' ')) AS BIGINT)
         |            NOT BETWEEN 40 AND 100000 THEN 'length_gate'
         |       ELSE 'kept' END AS verdict
         |FROM raw r""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.pipeline.CorpusPipeline.dropProvenance(
        docs.filter(col("source") =!= "src0")
          .select("doc_id", "text", "lang", "source"),
        docs.filter(col("source") === "src0"),
        graft.pipeline.CorpusPipeline.Config(minTokens = 40L))
    },

    // ----- n113: classifier calibration bins (reliability diagram) ------
    // The eval every shipped quality classifier needs beyond n84's
    // confusion matrix: is a 0.8 score actually right 80% of the time?
    // Scores bucket into 10 confidence bins (floor(score·10), top bin
    // closed) and each bin reports count, positives, the fixed-point
    // confidence mass (Σ round(1e6·score) — exact BIGINT, so the mean
    // confidence is one division away), and accuracy as one exact
    // n_pos/n division. Scores are the n80 chain — bit-identical
    // doubles cross-engine, so the bin boundaries cannot straddle.
    // Scale shape: map-only scoring + ONE 10-row grouped aggregate.
    QuerySpec(
      "n113_calibration_bins",
      s"""WITH z AS (SELECT doc_id, lang, $qualityZSql AS z FROM documents),
         |sc AS (SELECT lang, ${qualityScoreSql("z")} AS score FROM z)
         |SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_pos,
         |  CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS BIGINT)
         |    AS conf_fp,
         |  CAST(count(*) FILTER (lang = 'en') AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS acc
         |FROM sc GROUP BY 1""".stripMargin) { (s, d) =>
      val sc = t(s, d, "documents")
        .select(col("lang"),
          qualityScoreCol(qualityZCol).as("graft__score"))
      sc.groupBy(
        least(floor(col("graft__score") * 10).cast("long"), lit(9L))
          .as("bin"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"),
          sum(round(col("graft__score") * 1000000.0).cast("long"))
            .as("conf_fp"))
        .select(col("bin"), col("n"), col("n_pos"), col("conf_fp"),
          (col("n_pos").cast("double") / col("n").cast("double")).as("acc"))
    },

    // ----- n114: idf-weighted lexical retrieval (the BM25-ish leg) ------
    // n111's lexical leg promoted to a first-class ranked retrieval:
    // candidates score by Σ over SHARED 3-shingles of the shingle's
    // corpus rarity, round(1e6·N/df) — the n31 exact-rational idf
    // (no log: libm territory) on the 1e-6 grid so the per-doc score
    // is an exact BIGINT sum. Scale shape: df is one vocab-sized
    // two-level aggregate; the query's weighted shingles BROADCAST
    // onto the corpus shingle stream (map-only probe), then one
    // doc-keyed partial agg and TakeOrdered — corpus shingle text
    // never enters an exchange.
    QuerySpec(
      "n114_lexical_topk",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        // three consumers (df agg, query weights, corpus probe) — the
        // per-doc shingle explode runs once, not three times
        val sh = docs.select(col("doc_id"),
          explode(array_distinct(
            TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3)))
            .as("graft__sh"))
          .transform(graft.operators.Materialize.shared)
        val df = sh.groupBy(col("graft__sh"))
          .agg(count(lit(1)).as("graft__df"))
        val nd = docs.agg(count(lit(1)).as("graft__n"))
        val qw = sh.filter(col("doc_id") === 3).select(col("graft__sh"))
          .join(df, Seq("graft__sh"))
          .crossJoin(broadcast(nd))
          .select(col("graft__sh"),
            round(lit(1000000.0) *
              (col("graft__n").cast("double") /
                col("graft__df").cast("double")))
              .cast("long").as("graft__w"))
        sh.filter(col("doc_id") =!= 3)
          .join(broadcast(qw), Seq("graft__sh"))
          .groupBy(col("doc_id"))
          .agg(sum(col("graft__w")).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
    },

    // ----- n111: reciprocal-rank-fusion hybrid search --------------------
    // The RAG-stack retrieval shape (Cormack et al. 2009 RRF): a LEXICAL
    // ranking (shared 3-shingle count with the query document — the
    // BM25 stand-in this corpus supports exactly) and a VECTOR ranking
    // (cosine top-k from the query's embedding, the n4 machinery) fused
    // by RRF score = Σ 1/(60 + rank) — rank-space fusion, so the two
    // signals need no score calibration. Both source rankings are
    // top-20 cuts; ids missing from one list contribute 0 from it. The
    // score is a fixed-order sum of two exact integer divisions —
    // bit-identical cross-engine, no rounding needed. Scale shape: each
    // leg is the established retrieval pattern (shingle equi-join /
    // broadcast query vector); the fusion itself joins two k-row lists.
    QuerySpec(
      "n111_rrf_fusion",
      s"""WITH RECURSIVE $shingleCte,
         |qsh AS (SELECT shingle FROM sh WHERE doc_id = 3),
         |tr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS BIGINT)
         |           AS rt
         |       FROM (SELECT sh.doc_id, count(*) AS c FROM sh
         |             JOIN qsh USING (shingle)
         |             WHERE sh.doc_id <> 3 GROUP BY 1)
         |       QUALIFY rt <= 20),
         |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings WHERE vec_id = 3),
         |vr AS (SELECT vec_id AS doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY round(list_cosine_similarity(
         |             CAST(embedding AS DOUBLE[]), (SELECT v FROM qv)), 6)
         |             DESC, vec_id) AS BIGINT) AS rv
         |       FROM embeddings WHERE vec_id <> 3
         |       QUALIFY rv <= 20)
         |SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         |  CASE WHEN tr.rt IS NULL THEN CAST(0 AS DOUBLE)
         |       ELSE 1.0 / (60 + tr.rt) END +
         |  CASE WHEN vr.rv IS NULL THEN CAST(0 AS DOUBLE)
         |       ELSE 1.0 / (60 + vr.rv) END AS rrf
         |FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val sh = docs.select(col("doc_id"),
        explode(array_distinct(
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3)))
          .as("graft__sh"))
      val qsh = sh.filter(col("doc_id") === 3).select(col("graft__sh"))
      val textRank = sh.filter(col("doc_id") =!= 3)
        .join(broadcast(qsh), Seq("graft__sh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("graft__c"))
        .orderBy(col("graft__c").desc, col("doc_id")).limit(20)
        .select(col("doc_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("graft__c").desc, col("doc_id")))
            .cast("long").as("graft__rt"))
      val emb = t(s, d, "embeddings")
      val vecRank = Similarity.topKCosine(
        emb.filter(col("vec_id") =!= 3), "vec_id", "embedding",
        emb.filter(col("vec_id") === 3), "embedding", k = 20)
        .select(col("vec_id").as("doc_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("sim").desc, col("vec_id")))
            .cast("long").as("graft__rv"))
      textRank.join(vecRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (when(col("graft__rt").isNull, lit(0.0))
            .otherwise(lit(1.0) / (lit(60L) + col("graft__rt"))) +
            when(col("graft__rv").isNull, lit(0.0))
              .otherwise(lit(1.0) / (lit(60L) + col("graft__rv"))))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    },

    // ----- n112: Matryoshka truncated-dim retrieval recall ---------------
    // MRL-style embeddings (Kusupati et al. 2022) let a serving stack
    // search on a PREFIX of the vector (16 of 64 dims = 4× less memory
    // and compute) and re-rank with the full vector only for the short
    // list — IF prefix recall holds. This audit measures exactly that:
    // recall@10 of 16-dim-prefix retrieval against full-dim retrieval,
    // per query, via the same recallAtK operator n97 uses (the audit
    // API's second consumer — composition, not copy). Both legs are
    // the n78 broadcast-scored batch shape.
    QuerySpec(
      "n112_matryoshka_recall",
      """WITH q AS (SELECT vec_id AS query_id,
        |             CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 8),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
        |               vec_id) AS rk
        |  FROM c CROSS JOIN q) WHERE rk <= 10),
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(list_cosine_similarity(v[1:16], qv[1:16]), 6)
        |               DESC, vec_id) AS rk
        |  FROM c CROSS JOIN q) WHERE rk <= 10),
        |h AS (SELECT query_id, count(*) AS n_hits
        |      FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1)
        |SELECT q.query_id,
        |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(n_hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
        |FROM q LEFT JOIN h USING (query_id)""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
          slice(Similarity.asDouble(col("embedding")), 1, 16)
            .as("embedding"))
      val corpus = emb.filter(col("vec_id") >= 8)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteMultiTopK(
        corpus, "vec_id", "embedding", queries, "query_id", "embedding",
        k = 10)
      val approx = Similarity.bruteMultiTopK(
        trunc(corpus), "vec_id", "embedding",
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"),
            slice(Similarity.asDouble(col("embedding")), 1, 16)
              .as("embedding")),
        "query_id", "embedding", k = 10)
      Similarity.recallAtK(exact, approx, "query_id", "vec_id", k = 10)
    },

    // ----- n110: PageRank step over the near-dup graph -------------------
    // Graph centrality next to n30's connectivity: one exact damped
    // power-iteration step (d = 85/100, integer fixed-point — see
    // PageRank scaladoc) over the symmetrized n6 embedding near-dup
    // graph. Ranks the HUBS of duplicate neighborhoods — the doc most
    // connected inside its cluster is the canonical-copy candidate a
    // quality-blind min-id rule misses. Degrees/mass are edge-list
    // aggregates with map-side partials; the one join is equi on the
    // uniform source id; exchanges carry ids and longs only.
    QuerySpec(
      "n110_pagerank_step",
      """WITH dup AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a
        |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
        |e AS (SELECT id_a AS u, id_b AS v FROM dup
        |      UNION ALL SELECT id_b, id_a FROM dup),
        |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |m AS (SELECT v, CAST(sum(1000000 // deg) AS BIGINT) AS mass
        |      FROM e JOIN dg USING (u) GROUP BY 1),
        |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e)
        |SELECT id, CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg,
        |  CAST(150000 + (coalesce(m.mass, 0) * 85) // 100 AS BIGINT)
        |    AS rank1
        |FROM nodes LEFT JOIN dg ON nodes.id = dg.u
        |LEFT JOIN m ON nodes.id = m.v""".stripMargin) { (s, d) =>
      val pairs = Similarity.blockedNearDupPairs(
        t(s, d, "embeddings"), "vec_id", "embedding", "label",
        threshold = 0.4)
      val sym = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      graft.operators.PageRank.step(sym, "u", "v")
    },

    // ----- n119: full multi-round PageRank (the n110 step iterated) -----
    // Three damped power-iteration rounds over the same near-dup graph,
    // driver-loop-controlled under IterationCheckpoint (a checkpoint
    // fires mid-loop at round 2 — the oracle replays the WHOLE loop, so
    // the gate proves checkpoint-invariance on real data, the n79/n83/
    // n67 trainer discipline). All arithmetic is the step's exact
    // BIGINT floor fixed-point, so three unrolled DuckDB rounds match
    // bit-for-bit. Per-round cost is one edge↔rank equi-join + one
    // grouped sum — edge-list-sized at any round count; the edge list,
    // degrees and node universe are computed once and persisted.
    QuerySpec(
      "n119_pagerank_train",
      s"""WITH dup AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a
         |  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |        CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
         |e AS (SELECT id_a AS u, id_b AS v FROM dup
         |      UNION ALL SELECT id_b, id_a FROM dup),
         |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |${prRoundCte(1)},
         |${prRoundCte(2)},
         |${prRoundCte(3)}
         |SELECT r3.id, CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg, r3.pr
         |FROM r3 LEFT JOIN dg ON r3.id = dg.u""".stripMargin) { (s, d) =>
      val pairs = Similarity.blockedNearDupPairs(
        t(s, d, "embeddings"), "vec_id", "embedding", "label",
        threshold = 0.4)
      val sym = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      graft.operators.PageRank.train(sym, "u", "v", rounds = 3)
    },

    // ----- n120: streaming-CMS parity (the sharded sketch, gated) -------
    // The last parity-expressible streaming behavior brought under the
    // oracle (the n68/n74/n106 recipe): EventStream.streamingCms is a
    // plain sharded aggregation, so the SAME function applied to the
    // batch frame IS the stream's final snapshot (micro-batch
    // boundaries cannot matter — CMS cells are counts; EventStreamSpec
    // proves the across-batches run bit-equal). This query certifies
    // the two sketch laws on real data: (1) LINEARITY — the
    // element-wise-merged shard sketches equal the one-pass global
    // sketch bit-for-bit (`shard_parity`, exactly what a distributed
    // stream relies on), and (2) the ESTIMATE bound — merged-sketch
    // estimates dominate exact counts within depth·N/width slack
    // (`cms_ok`, the n49 discipline; the oracle computes exact counts
    // and pins both booleans true). Scale shape: one map-side-combined
    // sharded agg; the merge touches shards·depth·width sketch cells,
    // never data.
    QuerySpec(
      "n120_stream_cms_parity",
      """SELECT tok, n_tok, true AS shard_parity, true AS cms_ok FROM (
        |  SELECT tok, count(*) AS n_tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok)
        |ORDER BY n_tok DESC, tok LIMIT 10""".stripMargin) { (s, d) =>
      val (shards, depth, width) = (8, 4, 8192)
      val toks = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .transform(graft.operators.Materialize.shared)
      def h31(c: Column) = xxhash64(c).bitwiseAND(lit(0x7fffffffL))
      val hashed = toks.select(h31(col("tok")).as("graft__h"))
      val merged = EventStream
        .streamingCms(hashed, "graft__h", shards, depth, width)
        .select(posexplode(col("cms")).as(Seq("graft__pos", "graft__c")))
        .groupBy(col("graft__pos"))
        .agg(sum(col("graft__c")).as("graft__c"))
        .agg(transform(
          array_sort(collect_list(struct(col("graft__pos"), col("graft__c")))),
          x => x.getField("graft__c")).as("graft__merged"))
      val oneShot = hashed.agg(
        expr(s"graft_cms(graft__h, $depth, $width)").as("graft__one"),
        count(lit(1)).as("graft__n"))
      val sk = merged.crossJoin(oneShot)
      val estM = SketchAggregates.cmsEstimate(
        col("graft__merged"), h31(col("tok")), depth, width)
      toks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
        .orderBy(col("n_tok").desc, col("tok"))
        .limit(10)
        .join(broadcast(sk))
        .select(col("tok"), col("n_tok"),
          (col("graft__merged") === col("graft__one")).as("shard_parity"),
          (estM >= col("n_tok") &&
            estM <= col("n_tok") + lit(depth.toLong) *
              expr(s"graft__n div $width") + lit(depth.toLong))
            .as("cms_ok"))
    },

    // ----- n109: audio-clip metadata (real WAV decode) -------------------
    // The multimodal family's audio axis (n17 is the image/bytes one):
    // per-doc synthetic PCM16 WAV clips — samples a deterministic
    // function of (doc_id, i), ENCODED to real RIFF/WAVE bytes and
    // DECODED back through AudioCodec's genuine header walk — with
    // integer-exact per-clip stats (frames, rate, floor-µs duration,
    // sum of squares, peak). The oracle never parses WAV: it computes
    // the same stats closed-form from the generator formula, so any
    // encode/decode disagreement (header offset, endianness, chunk
    // alignment) surfaces as a value mismatch. Decode runs in
    // mapPartitions (the image-path boundary); payload bytes never
    // leave the executor.
    QuerySpec(
      "n109_audio_meta",
      """WITH p AS (SELECT doc_id, 64 + doc_id % 64 AS ns FROM documents),
        |s AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS i
        |      FROM p),
        |v AS (SELECT doc_id, ns,
        |        ((doc_id * 31 + i * 7919) % 4096) - 2048 AS x
        |      FROM s)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(ns * 1000000 // 8000 AS BIGINT) AS duration_us,
        |  CAST(sum(x * x) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(x)) AS BIGINT) AS peak
        |FROM v GROUP BY doc_id, ns""".stripMargin) { (s, d) =>
      import s.implicits._
      val wavs = t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (64 + id % 64).toInt
          val samples = Array.tabulate(ns)(i =>
            (((id * 31L + i.toLong * 7919L) % 4096L) - 2048L).toShort)
          (id, graft.operators.AudioCodec.encodePcm16Mono(8000, samples))
        }).toDF("doc_id", "payload")
      Multimodal.audioMeta(wavs, "payload")
    },

    // ----- n107: exact-k deterministic sample per group ------------------
    // The rate-based samplers (n24 hash, n32 stratified, n55 mixture)
    // emit a BINOMIAL number of rows; an eval-set builder needs EXACTLY
    // k per group, reproducibly. Deterministic reservoir: per language,
    // the k docs with the smallest seeded md5 residue (uniform over
    // docs, new seed → fresh draw) — ranked by the portable 60-bit
    // hash with doc_id as total-order tiebreak. Per-group top-k is
    // TopK.twoLevel (local winners per salt bucket first), NOT a
    // one-reducer-per-group window — groups are few and huge, the
    // exact funnel the two-level pattern exists for.
    QuerySpec(
      "n107_exact_k_sample",
      s"""WITH h AS (SELECT lang, doc_id,
         |       ${hex60("'s7:' || CAST(doc_id AS VARCHAR)")} AS hk
         |     FROM documents)
         |SELECT lang, doc_id,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
         |       AS BIGINT) AS rk
         |FROM h QUALIFY rk <= 20""".stripMargin) { (s, d) =>
      val hashed = t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          TextOps.hexHash60(concat(lit("s7:"), col("doc_id").cast("string")))
            .as("graft__hk"))
      TopK.twoLevel(hashed, Seq(col("lang")),
        pmod(hash(col("doc_id")), lit(32)),
        Seq(col("graft__hk"), col("doc_id")), 20)
        .select(col("lang"), col("doc_id"), col("rk"))
    },

    // ----- n108: hard-negative mining (contrastive training pairs) ------
    // Embedding-model training needs, per anchor, the highest-cosine
    // items that are NOT the anchor's class — the hard negatives that
    // make contrastive losses learn (easy random negatives teach
    // nothing). n78's batched one-pass retrieval shape with a label
    // guard: anchors broadcast, scoring is map-only, the label
    // mismatch filters before ranking, per-anchor top-k is two-level.
    QuerySpec(
      "n108_hard_negatives",
      """WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
        |             CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 8)
        |SELECT query_id, vec_id,
        |  round(list_cosine_similarity(v, qv), 6) AS sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
        |                  vec_id)
        |       AS BIGINT) AS rk
        |FROM c CROSS JOIN q
        |WHERE c.label <> q.qlabel
        |QUALIFY rk <= 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("graft__ql"),
          Similarity.asDouble(col("embedding")).as("graft__qv"))
      val scored = emb.filter(col("vec_id") >= 8)
        .select(col("vec_id"), col("label"),
          Similarity.asDouble(col("embedding")).as("graft__v"))
        .crossJoin(broadcast(q))
        .filter(col("label") =!= col("graft__ql"))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("graft__v"), col("graft__qv")), 6)
            .as("sim"))
      TopK.twoLevel(scored, Seq(col("query_id")),
        pmod(hash(col("vec_id")), lit(32)),
        Seq(col("sim").desc, col("vec_id")), 10)
        .select(col("query_id"), col("vec_id"), col("sim"), col("rk"))
    },

    // ----- n105: exact-substring span SCRUB (the rewrite half) ----------
    // n102 measures cross-doc duplicated-span coverage; this APPLIES
    // the dedup (Lee et al. 2021 §4.2: remove each duplicated
    // substring from all but one occurrence): every cross-doc 5-gram
    // keeps its occurrence in the keeper doc (min id) and its covered
    // positions are dropped everywhere else, then the text is rebuilt
    // from the kept tokens. The rebuild is a per-row array filter —
    // dropped positions collect per doc and join back by id, so
    // document text STILL never enters an exchange (see
    // CrossDupSpans.scrub). Exact duplicates scrub to empty in every
    // non-keeper copy — the n1 semantics falling out of the span rule.
    QuerySpec(
      "n105_span_scrub",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |             len(string_split(text, ' ')) AS n
         |           FROM documents),
         |g AS (SELECT doc_id, ws, unnest(generate_series(1, n - 4)) AS p
         |      FROM t WHERE n >= 5),
         |gg AS (SELECT doc_id, p,
         |         ${hex60("array_to_string(ws[p : p+4], ' ')")} AS fp
         |       FROM g),
         |k AS (SELECT fp, min(doc_id) AS keeper,
         |        count(DISTINCT doc_id) AS nd
         |      FROM gg GROUP BY 1),
         |oc AS (SELECT gg.doc_id, gg.p FROM gg JOIN k USING (fp)
         |       WHERE k.nd >= 2 AND gg.doc_id <> k.keeper),
         |drp AS (SELECT DISTINCT doc_id,
         |          unnest(generate_series(p, p + 4)) AS pos
         |        FROM oc),
         |tok AS (SELECT doc_id, unnest(ws) AS w,
         |          generate_subscripts(ws, 1) AS pos
         |        FROM t),
         |kept AS (SELECT tok.doc_id,
         |           string_agg(w, ' ' ORDER BY tok.pos) AS clean_text,
         |           count(*) AS n_kept
         |         FROM tok LEFT JOIN drp
         |           ON tok.doc_id = drp.doc_id AND tok.pos = drp.pos
         |         WHERE drp.pos IS NULL GROUP BY 1)
         |SELECT t.doc_id, n AS n_tokens,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(clean_text, '') AS clean_text
         |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id""".stripMargin) {
      (s, d) =>
        CrossDupSpans.scrub(t(s, d, "documents"), "doc_id", "text", n = 5)
    },

    // ----- n103: corpus snapshot diff (release reconciliation) ----------
    // The diff every incremental training-data release is built from:
    // old vs new snapshot → added / removed / changed / unchanged per
    // id, comparing md5 digests so the full-outer id join ships
    // (id, digest) and never document bodies. The two snapshots here
    // are deterministic views of the documents table (drop id%7==0
    // from old, id%11==0 from new, append a version marker to id%5==0
    // in old) so the oracle sees every status class.
    QuerySpec(
      "n103_snapshot_diff",
      """WITH oldv AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0),
        |newv AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
        |o AS (SELECT doc_id, md5(text) AS h FROM oldv),
        |n AS (SELECT doc_id, md5(text) AS h FROM newv)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h = n.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"))
      val newSnap = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .select(col("doc_id"), col("text"))
      SnapshotDiff.diff(oldSnap, newSnap, "doc_id", "text")
    },

    // ----- n104: product-quantization ADC retrieval ---------------------
    // PQ (Jégou et al. 2011): vectors code to `subspaces` bytes (the
    // ~64x memory lever for in-RAM candidate sets at 100 TB) and the
    // query scores coded candidates through a per-query lookup table —
    // no decode. Deterministic ±1 codebook + 1e-3 integer grid make
    // code assignment AND the ADC score exact BIGINT arithmetic, so
    // the oracle replays the whole index: per-subspace argmax-dot
    // coding (ties to the lower code) and LUT lookups as list
    // indexing. See Similarity.pqTopK.
    QuerySpec(
      "n104_pq_adc",
      s"""WITH q AS (SELECT ${pqQvSql("embedding")} AS qv
         |           FROM embeddings WHERE vec_id = 4),
         |lut AS (SELECT ${(0 until 4).map(m =>
                    s"${pqLutSql("qv", m * 16)} AS lut$m").mkString(", ")}
         |        FROM q),
         |c AS (SELECT vec_id, ${pqQvSql("embedding")} AS v
         |      FROM embeddings WHERE vec_id <> 4),
         |coded AS (SELECT vec_id, ${(0 until 4).map(m =>
                      s"${pqRankSql("v", m * 16)} AS c$m").mkString(", ")}
         |          FROM c)
         |SELECT vec_id,
         |  CAST(${(0 until 4).map(m => s"lut$m[c$m + 1]").mkString(" + ")}
         |       AS BIGINT) AS score
         |FROM coded, lut
         |ORDER BY score DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.pqTopK(
        emb.filter(col("vec_id") =!= 4), "vec_id", "embedding",
        emb.filter(col("vec_id") === 4), "embedding",
        codebook = pqCodebook, subspaces = 4, k = 15)
    },

    // ----- n117: event-rate anomaly detection (trailing z-score) -------
    // The ops-monitoring shape over the event stream: hourly rates per
    // event type, a trailing-24h baseline via a RANGE frame ending at
    // 1 PRECEDING (the current hour must not contaminate its own
    // baseline), and a z-score from EXACT integer window sums
    // (count/sum/sum-of-squares — associative BIGINT partials; the
    // n34/n92 moments discipline). The z chain is division →
    // subtraction → sqrt → division on exact inputs — every op IEEE
    // correctly-rounded, so the score is bit-identical cross-engine
    // with no quantization. Zero-variance and empty-baseline guards
    // are INTEGER comparisons (exact), emitting NULL not NaN.
    QuerySpec(
      "n117_rate_anomaly",
      """WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, n,
        |    CAST(count(*) OVER fr AS BIGINT) AS cnt,
        |    CAST(sum(n) OVER fr AS BIGINT) AS s1,
        |    CAST(sum(n * n) OVER fr AS BIGINT) AS s2
        |  FROM h WINDOW fr AS (PARTITION BY event_type ORDER BY hr
        |                       RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, CAST(hr AS BIGINT) AS hr, n,
        |  cnt AS baseline_hours,
        |  CASE WHEN cnt > 0 AND cnt * s2 - s1 * s1 > 0
        |       THEN (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt)
        |            / sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE)
        |                   / CAST(cnt * cnt AS DOUBLE))
        |       END AS z
        |FROM w""".stripMargin) { (s, d) =>
      val h = t(s, d, "events")
        .withColumn("graft__es", unix_timestamp(col("ts")))
        .groupBy(col("event_type"), expr("graft__es div 3600").as("hr"))
        .agg(count(lit(1)).as("n"))
      val fr = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rangeBetween(-24, -1)
      val w = h.select(col("event_type"), col("hr"), col("n"),
        count(lit(1)).over(fr).as("graft__cnt"),
        sum(col("n")).over(fr).as("graft__s1"),
        sum(col("n") * col("n")).over(fr).as("graft__s2"))
      val varNum =
        col("graft__cnt") * col("graft__s2") - col("graft__s1") * col("graft__s1")
      w.select(col("event_type"), col("hr"), col("n"),
        col("graft__cnt").as("baseline_hours"),
        when(col("graft__cnt") > 0 && varNum > 0,
          (col("n").cast("double") -
            col("graft__s1").cast("double") / col("graft__cnt")) /
            sqrt(varNum.cast("double") /
              (col("graft__cnt") * col("graft__cnt")).cast("double")))
          .as("z"))
    },

    // ----- n118: exact "more like this" document search -----------------
    // Single-document similarity serving: given a query doc, the
    // top-10 corpus docs by EXACT 3-shingle Jaccard. Distinct from
    // n114's idf-sum ranking (set overlap vs rarity mass) and from the
    // n3 pair sweep (one probe, not all-pairs): the query's distinct
    // shingle set broadcasts onto the corpus shingle stream (map-only
    // probe — the corpus never shuffles shingle text), intersection
    // sizes come from one doc-keyed partial agg, and each Jaccard is
    // the exact integer ratio i/(n_a + n_q - i) — bit-identical, no
    // rounding (the n3 discipline). TakeOrdered top-10.
    QuerySpec(
      "n118_similar_docs",
      s"""WITH $shingleCte,
         |q AS (SELECT shingle FROM sh WHERE doc_id = 7),
         |qn AS (SELECT n FROM shn WHERE doc_id = 7),
         |i AS (SELECT sh.doc_id, count(*) AS i
         |      FROM sh JOIN q USING (shingle)
         |      WHERE sh.doc_id <> 7 GROUP BY 1)
         |SELECT i.doc_id,
         |  CAST(i AS DOUBLE) / (shn.n + (SELECT n FROM qn) - i) AS jaccard
         |FROM i JOIN shn ON shn.doc_id = i.doc_id
         |ORDER BY jaccard DESC, i.doc_id LIMIT 10""".stripMargin) { (s, d) =>
      // (an A/B with 64-bit-hashed shingles measured the same wall —
      // the cost is the per-row shingle string construction every
      // shingle-family query pays, not the sort/join — so the exact
      // string spelling stays, collision-caveat-free)
      val withSh = t(s, d, "documents")
        .select(col("doc_id"),
          array_distinct(
            TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3))
            .as("graft__shs"))
        .withColumn("graft__ns", size(col("graft__shs")).cast("long"))
      val q = withSh.filter(col("doc_id") === 7)
        .select(explode(col("graft__shs")).as("graft__sh"),
          col("graft__ns").as("graft__qn"))
      withSh.filter(col("doc_id") =!= 7)
        .select(col("doc_id"), col("graft__ns"),
          explode(col("graft__shs")).as("graft__sh"))
        .join(broadcast(q), Seq("graft__sh"))
        .groupBy(col("doc_id"), col("graft__ns"), col("graft__qn"))
        .agg(count(lit(1)).as("graft__i"))
        .select(col("doc_id"),
          (col("graft__i").cast("double") /
            (col("graft__ns") + col("graft__qn") - col("graft__i")))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_id"))
        .limit(10)
    },

    // ----- n116: two-stage retrieval (PQ shortlist → exact rerank) ------
    // The production ANN serving path the n97/n112 audits measure FOR:
    // the cheap coded index (n104's ADC) builds a top-50 shortlist,
    // and only those 50 ids rejoin the vector table for an exact
    // cosine rerank to the final top-10 — full-precision distance
    // work bounded by the shortlist, never the corpus. Shortlist ids
    // broadcast; the rerank is a broadcast equi-join + 50 fused-cosine
    // rows + TakeOrdered. (Recall of the composite vs brute force is
    // exactly what n97 audits; this query pins the PIPELINE.)
    QuerySpec(
      "n116_pq_rerank",
      s"""WITH q AS (SELECT ${pqQvSql("embedding")} AS qv,
         |             CAST(embedding AS DOUBLE[]) AS fv
         |           FROM embeddings WHERE vec_id = 4),
         |lut AS (SELECT ${(0 until 4).map(m =>
                    s"${pqLutSql("qv", m * 16)} AS lut$m").mkString(", ")}
         |        FROM q),
         |c AS (SELECT vec_id, ${pqQvSql("embedding")} AS v,
         |        CAST(embedding AS DOUBLE[]) AS fv
         |      FROM embeddings WHERE vec_id <> 4),
         |coded AS (SELECT vec_id, fv, ${(0 until 4).map(m =>
                      s"${pqRankSql("v", m * 16)} AS c$m").mkString(", ")}
         |          FROM c),
         |short AS (SELECT vec_id, fv FROM (
         |  SELECT vec_id, fv,
         |    ${(0 until 4).map(m => s"lut$m[c$m + 1]").mkString(" + ")} AS score
         |  FROM coded, lut
         |  ORDER BY score DESC, vec_id LIMIT 50))
         |SELECT vec_id,
         |  round(list_cosine_similarity(fv, (SELECT fv FROM q)), 6) AS sim
         |FROM short
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") =!= 4)
      val query = emb.filter(col("vec_id") === 4)
      val shortlist = Similarity.pqAdc(
        Similarity.pqCodes(corpus, "vec_id", "embedding", pqCodebook, 4),
        "vec_id", query, "embedding", pqCodebook, 4, k = 50)
        .select(col("vec_id"))
      Similarity.topKCosine(
        corpus.join(broadcast(shortlist), Seq("vec_id")),
        "vec_id", "embedding", query, "embedding", k = 10)
    },

    // ----- s26: PQ codes as WAREHOUSE LAYOUT (stored index serving) -----
    // n104 codes the corpus per query; at 100 TB the PQ index IS a
    // table — codes computed ONCE at build time and stored as a
    // subspaces-column table (4 longs here standing in for 4 bytes vs
    // a 256 B f32 vector), so a probe scans the narrow codes table and
    // never touches embeddings. Same codebook, same coding, same
    // answer as n104 — what changes is WHERE the coding happened
    // (index build vs query time). The s23 discipline applied to PQ;
    // plan-pinned: the serving scan's ReadSchema carries only id+codes.
    QuerySpec(
      "s26_pq_layout",
      s"""WITH q AS (SELECT ${pqQvSql("embedding")} AS qv
         |           FROM embeddings WHERE vec_id = 4),
         |lut AS (SELECT ${(0 until 4).map(m =>
                    s"${pqLutSql("qv", m * 16)} AS lut$m").mkString(", ")}
         |        FROM q),
         |c AS (SELECT vec_id, ${pqQvSql("embedding")} AS v
         |      FROM embeddings WHERE vec_id <> 4),
         |coded AS (SELECT vec_id, ${(0 until 4).map(m =>
                      s"${pqRankSql("v", m * 16)} AS c$m").mkString(", ")}
         |          FROM c)
         |SELECT vec_id,
         |  CAST(${(0 until 4).map(m => s"lut$m[c$m + 1]").mkString(" + ")}
         |       AS BIGINT) AS score
         |FROM coded, lut
         |ORDER BY score DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val path = "target/sinks/s26_pq"
      val emb = t(s, d, "embeddings")
      Similarity.pqCodes(
        emb.filter(col("vec_id") =!= 4), "vec_id", "embedding",
        codebook = pqCodebook, subspaces = 4)
        .write.mode("overwrite").parquet(path)
      Similarity.pqAdc(
        s.read.parquet(path), "vec_id",
        emb.filter(col("vec_id") === 4), "embedding",
        codebook = pqCodebook, subspaces = 4, k = 15)
    },

    QuerySpec(
      "n101_balanced_shards",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
        |  FROM t),
        |a AS (SELECT n_tokens, (rk - 1) % 16 AS pos FROM r)
        |SELECT CAST(CASE WHEN pos < 8 THEN pos ELSE 15 - pos END AS BIGINT)
        |    AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_size
        |FROM a GROUP BY 1""".stripMargin) { (s, d) =>
      ShardBalance.report(
        t(s, d, "documents")
          .select(col("doc_id"), TextOps.nTokens(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", nShards = 8)
    },

    // ----- s28: shingle index as WAREHOUSE LAYOUT (lexical serving) -----
    // n118 shingles the corpus per query; at 100 TB the shingle
    // relation IS a table — [[LexicalIndex.build]] writes it once as
    // fp-bucketed, shingle-sorted postings (+ meta), and the
    // serving probe answers the SAME more-like-this question from the
    // stored layout: query shingles via a pushed doc_id filter on the
    // postings, broadcast, one doc-keyed agg, TakeOrdered. The s23/s26
    // discipline applied to the lexical side; plan-pinned: no scan on
    // the probe path reads a text column.
    QuerySpec(
      "s28_lexical_index",
      s"""WITH $shingleCte,
         |q AS (SELECT shingle FROM sh WHERE doc_id = 7),
         |qn AS (SELECT n FROM shn WHERE doc_id = 7),
         |i AS (SELECT sh.doc_id, count(*) AS i
         |      FROM sh JOIN q USING (shingle)
         |      WHERE sh.doc_id <> 7 GROUP BY 1)
         |SELECT i.doc_id,
         |  CAST(i AS DOUBLE) / (shn.n + (SELECT n FROM qn) - i) AS jaccard
         |FROM i JOIN shn ON shn.doc_id = i.doc_id
         |ORDER BY jaccard DESC, i.doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val path = "target/sinks/s28_lex"
      LexicalIndex.build(t(s, d, "documents"), "doc_id", "text", path, n = 3)
      LexicalIndex.moreLikeThis(s, path, queryDocId = 7L, k = 10)
    },

    // ----- s29: idf retrieval served from the stored shingle index ------
    // The n114 ranking answered INDEX-ONLY: per-shingle weights
    // round(1e6·N/df) with df counted from the stored postings (the
    // query doc's shingles broadcast into a semi-join, one window
    // count) and N from meta, BIGINT score sum — zero text reads, zero
    // shingle builds at serve time.
    QuerySpec(
      "s29_lexical_serve",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val path = "target/sinks/s29_lex"
      LexicalIndex.build(t(s, d, "documents"), "doc_id", "text", path, n = 3)
      LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- s30: incremental refresh of the lexical index ----------------
    // The s25 delta discipline applied to the text side: the index is
    // built over 90% of the corpus, then refreshed with the remaining
    // 10% — delta shingled map-only and appended into the bucket
    // partitions (df is counted from them at serve time), meta by
    // adding the delta count. The indexed corpus is never re-shingled.
    // The oracle computes the idf serving answer over the FULL corpus
    // from scratch — refresh ≡ full rebuild, proven on the serving
    // answer itself.
    QuerySpec(
      "s30_lexical_refresh",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val path = "target/sinks/s30_lex"
      val docs = t(s, d, "documents")
      LexicalIndex.build(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", path, n = 3)
      LexicalIndex.refresh(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", path,
        batchId = "b1")
      LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- s40: right-to-be-forgotten deletes in the lexical index ------
    // The serving layout's GDPR path: a forget-set (doc_id % 10 = 7)
    // becomes a tombstone id list + a negated meta generation
    // (forget-set-sized work, nothing stored rewritten), and every
    // probe answers as if the docs never existed: postings anti-join
    // the broadcast tombstones, so df — counted from the live postings
    // — shrinks with them, and N folds the negated generation. The
    // oracle rebuilds the serving answer from scratch over the
    // REMAINING corpus — delete ≡ rebuild, proven on the answer itself
    // (the s30 discipline, mirrored). LexicalIndexSpec additionally proves compact()
    // physically drops the tombstoned postings and serves identically.
    QuerySpec(
      "s40_lexical_forget",
      s"""WITH RECURSIVE ${shingleCte.replace("FROM documents",
             "FROM documents WHERE doc_id % 10 <> 7")},
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
         |       WHERE doc_id % 10 <> 7),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val path = "target/sinks/s40_lex"
      val docs = t(s, d, "documents")
      LexicalIndex.build(docs, "doc_id", "text", path, n = 3)
      LexicalIndex.tombstone(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path,
        batchId = "d1")
      LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- n121: hybrid retrieval served ENTIRELY from stored indexes ---
    // The n111 RRF fusion with both legs on their warehouse layouts —
    // the serving stack the s23/s26/s28 layouts exist for: the lexical
    // leg ranks by shared-shingle count from the STORED postings (s28),
    // the vector leg by PQ-ADC score from the STORED codes table (s26).
    // No corpus text is shingled and no full-precision vector is
    // scored at query time (one query-row read each); fusion is the
    // same rank-space Σ 1/(60+rank) — exact integer divisions, no
    // calibration. Each leg is a top-20 cut; ids missing from one list
    // contribute 0 from it.
    QuerySpec(
      "n121_hybrid_serve",
      s"""WITH RECURSIVE $shingleCte,
         |qsh AS (SELECT shingle FROM sh WHERE doc_id = 3),
         |tr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS BIGINT)
         |           AS rt
         |       FROM (SELECT sh.doc_id, count(*) AS c FROM sh
         |             JOIN qsh USING (shingle)
         |             WHERE sh.doc_id <> 3 GROUP BY 1)
         |       QUALIFY rt <= 20),
         |q AS (SELECT ${pqQvSql("embedding")} AS qv
         |      FROM embeddings WHERE vec_id = 3),
         |lut AS (SELECT ${(0 until 4).map(m =>
                   s"${pqLutSql("qv", m * 16)} AS lut$m").mkString(", ")}
         |        FROM q),
         |c AS (SELECT vec_id, ${pqQvSql("embedding")} AS v
         |      FROM embeddings WHERE vec_id <> 3),
         |coded AS (SELECT vec_id, ${(0 until 4).map(m =>
                     s"${pqRankSql("v", m * 16)} AS c$m").mkString(", ")}
         |          FROM c),
         |vr AS (SELECT vec_id AS doc_id,
         |         CAST(row_number() OVER (
         |           ORDER BY ${(0 until 4).map(m => s"lut$m[c$m + 1]")
                       .mkString(" + ")} DESC, vec_id) AS BIGINT) AS rv
         |       FROM coded, lut
         |       QUALIFY rv <= 20)
         |SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         |  CASE WHEN tr.rt IS NULL THEN CAST(0 AS DOUBLE)
         |       ELSE 1.0 / (60 + tr.rt) END +
         |  CASE WHEN vr.rv IS NULL THEN CAST(0 AS DOUBLE)
         |       ELSE 1.0 / (60 + vr.rv) END AS rrf
         |FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val lexPath = "target/sinks/n121_lex"
      val pqPath = "target/sinks/n121_pq"
      val emb = t(s, d, "embeddings")
      // the two stored-index builds are disjoint paths fed by disjoint
      // sources (documents text vs embeddings) — build them
      // CONCURRENTLY; the serve plans below are constructed only after
      // both settle (the PQ read needs the files for schema inference)
      val pqFut = graft.operators.Overlap.future(s)(
        Similarity.pqCodes(
          emb.filter(col("vec_id") =!= 3), "vec_id", "embedding",
          pqCodebook, 4)
          .write.mode("overwrite").parquet(pqPath))
      try LexicalIndex.build(
        t(s, d, "documents"), "doc_id", "text", lexPath, n = 3)
      catch {
        case e: Throwable =>
          graft.operators.Overlap.settle(pqFut); throw e
      }
      graft.operators.Overlap.await(pqFut)
      val post = LexicalIndex.postings(s, lexPath)
      val qsh = post.filter(col("doc_id") === 3).select(col("shingle"))
      val textRank = post.filter(col("doc_id") =!= 3)
        .join(broadcast(qsh), Seq("shingle"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("graft__c"))
        .orderBy(col("graft__c").desc, col("doc_id")).limit(20)
        .select(col("doc_id"),
          row_number().over(Window
            .orderBy(col("graft__c").desc, col("doc_id")))
            .cast("long").as("graft__rt"))
      val vecRank = Similarity.pqAdc(
        s.read.parquet(pqPath), "vec_id",
        emb.filter(col("vec_id") === 3), "embedding",
        pqCodebook, 4, k = 20)
        .select(col("vec_id").as("doc_id"), col("score"))
        .select(col("doc_id"),
          row_number().over(Window
            .orderBy(col("score").desc, col("doc_id")))
            .cast("long").as("graft__rv"))
      textRank.join(vecRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (when(col("graft__rt").isNull, lit(0.0))
            .otherwise(lit(1.0) / (lit(60L) + col("graft__rt"))) +
            when(col("graft__rv").isNull, lit(0.0))
              .otherwise(lit(1.0) / (lit(60L) + col("graft__rv"))))
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    },

    // ----- n122: BM25 ranked retrieval from the stored index ------------
    // The production lexical scorer (Robertson & Zaragoza 2009) at
    // k1 = 1.2, b = 0.75 over the n114 exact-rational idf grid (no
    // log — the n31 discipline). With T = corpus tokens, N = docs, the
    // per-term score collapses to ONE rational, w·22·T·tf /
    // (10·T·tf + 3·T + 9·dl·N), evaluated as a fixed-order IEEE chain
    // (bit-identical in DuckDB), rounded to BIGINT on w's 1e6 grid,
    // then summed EXACTLY per doc — order-independent, so the grouped
    // sum cannot depend on partitioning (a raw double sum would).
    // Served index-only: tf and dl ride the stored postings
    // (graft_shingle_tfs computes the counted distinct set in the
    // same one fused pass — tf costs no extra aggregate at build).
    QuerySpec(
      "n122_bm25_topk",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |shnd AS (
        |  SELECT doc_id,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
        |      AS shingle
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY shingle IS NOT NULL),
        |tf AS (SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS tf
        |       FROM shnd GROUP BY 1, 2),
        |dl AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM documents),
        |meta AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tt
        |         FROM documents),
        |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
        |       FROM tf GROUP BY 1),
        |qw AS (SELECT tf.shingle,
        |         CAST(round(1000000.0 * (CAST(nn AS DOUBLE)
        |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
        |       FROM tf JOIN df USING (shingle) CROSS JOIN meta
        |       WHERE tf.doc_id = 3),
        |terms AS (SELECT tf.doc_id,
        |    CAST(round((CAST(w AS DOUBLE) * 22.0 * CAST(tt AS DOUBLE)
        |        * CAST(tf.tf AS DOUBLE))
        |      / CAST(10 * tt * tf.tf + 3 * tt + 9 * dl.dl * nn AS DOUBLE))
        |      AS BIGINT) AS s
        |  FROM tf JOIN qw USING (shingle)
        |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN meta
        |  WHERE tf.doc_id <> 3)
        |SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
        |FROM terms GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10"""
        .stripMargin) { (s, d) =>
      val path = "target/sinks/n122_lex"
      LexicalIndex.build(t(s, d, "documents"), "doc_id", "text", path, n = 3)
      LexicalIndex.bm25TopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- s31: catalog-pruned point probe of the lexical index ---------
    // The scan shape the fp-bucketed layout exists for: an ad-hoc
    // query STRING arrives, is shingled driver-side (plan-time
    // constants — the s23 probe-set argument), and its bucket set
    // prunes the postings scan at the CATALOG while the
    // shingle IN-list reaches the parquet reader — the probe touches
    // only the ≤|query shingles| bucket partitions and, within them,
    // only row groups whose shingle range can match (the build sorts
    // buckets by shingle for exactly this). Ranking is the n114
    // idf-sum. Plan-pinned: PartitionFilters carries the bucket set,
    // selectedPartitions ≤ |query buckets|.
    QuerySpec(
      "s31_lexical_point_probe",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |q AS (SELECT unnest([${LexicalIndex
                  .literalShingles(pointProbeQuery, 3)
                  .map(x => s"'$x'").mkString(", ")}]) AS shingle),
         |qw AS (SELECT q.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM q JOIN df USING (shingle) CROSS JOIN nd)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/s31_lex"
        LexicalIndex.build(t(s, d, "documents"), "doc_id", "text", path, n = 3)
        LexicalIndex.pointProbe(s, path, pointProbeQuery, k = 10)
    },

    // ----- s32: IVF-PQ composed layout (the production ANN shape) -------
    // The FAISS-standard serving stack assembled from the repo's own
    // stored-layout pieces (Jégou et al. 2011; s23 + s26 + n116): ONE
    // stored table of (vec_id, PQ codes) partitioned by coarse IVF
    // cell. A probe derives its cell set driver-side (pure arithmetic
    // on centroid constants — the s23 argument), so the catalog prunes
    // to nprobe of nlist partitions BEFORE any row is read; within the
    // probed cells the cheap exact-BIGINT ADC builds a top-50
    // shortlist (~64× narrower rows than raw vectors), and only those
    // 50 ids rejoin the vector table for the exact cosine rerank to
    // the final top-10. Compression AND pruning AND bounded
    // full-precision work in one pipeline — each piece individually
    // oracle-proven, here the COMPOSITION is. Plan-pinned:
    // PartitionFilters carries the cell set (≤2 of ≤16 partitions),
    // shortlist broadcasts, TakeOrdered.
    QuerySpec(
      "s32_ivfpq_layout",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS fv,
         |             ${pqQvSql("embedding")} AS qv
         |           FROM embeddings WHERE vec_id = 5),
         |p AS (SELECT list_transform(${ivfRankSql("fv")}, s -> s.i)[1:2] AS ps
         |      FROM q),
         |lut AS (SELECT ${(0 until 4).map(m =>
                    s"${pqLutSql("qv", m * 16)} AS lut$m").mkString(", ")}
         |        FROM q),
         |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell,
         |        ${pqQvSql("embedding")} AS v
         |      FROM embeddings WHERE vec_id <> 5),
         |coded AS (SELECT vec_id, fv, ${(0 until 4).map(m =>
                      s"${pqRankSql("v", m * 16)} AS c$m").mkString(", ")}
         |          FROM c WHERE list_contains((SELECT ps FROM p), cell)),
         |short AS (SELECT vec_id, fv FROM (
         |  SELECT vec_id, fv,
         |    ${(0 until 4).map(m => s"lut$m[c$m + 1]").mkString(" + ")} AS score
         |  FROM coded, lut
         |  ORDER BY score DESC, vec_id LIMIT 50))
         |SELECT vec_id,
         |  round(list_cosine_similarity(fv, (SELECT fv FROM q)), 6) AS sim
         |FROM short
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val path = "target/sinks/s32_ivfpq"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val emb = t(s, d, "embeddings")
      val corpus = emb.filter(col("vec_id") =!= 5)
      val query = emb.filter(col("vec_id") === 5)
      // index build: PQ codes + coarse cell, ONE stored table
      // partitioned by cell (codes ~64× narrower than vectors)
      Similarity.pqCodes(corpus, "vec_id", "embedding", pqCodebook, 4)
        .join(corpus.select(col("vec_id"),
          Similarity.nearestCell(
            Similarity.asDouble(col("embedding")), cents).as("cell")),
          Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      // probe-cell set driver-side — same argmin, same tie-break as
      // Similarity.nearestCell (the s23 discipline: the query vector
      // is the API's input, the cell argmin is constant arithmetic)
      val qv = query
        .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0)
      val probes = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }.sorted.take(2).map(_._2)
      val shortlist = Similarity.pqAdc(
        s.read.parquet(path).filter(col("cell").isin(probes: _*)),
        "vec_id", query, "embedding", pqCodebook, 4, k = 50)
        .select(col("vec_id"))
      Similarity.topKCosine(
        corpus.join(broadcast(shortlist), Seq("vec_id")),
        "vec_id", "embedding", query, "embedding", k = 10)
    },

    // ----- n126: perceptual image near-dup (dHash grouping) -------------
    // The image-modality dedup byte hashing CANNOT do: per doc, a real
    // 36×32 PPM is synthesized whose 4×4 blocks follow a
    // class-dependent ramp (class = doc_id % 10; block row by runs
    // ascending or descending by bit (class >> (by % 4)) & 1, step 20)
    // PLUS per-document pixel noise of amplitude ≤ 8 — so same-class
    // images are byte-DIFFERENT (md5 dedup finds nothing) but the
    // dHash comparisons (step 20 vs worst-case ±16 noise swing) are
    // noise-immune and hash each class to one 64-bit key. The pipeline
    // is the real one: encode → decode → box-resample 9×8 → luminance
    // → 64 comparison bits → group. The oracle is the closed-form
    // generator twin (group = doc_id % 10) — it never sees the hash,
    // so only a correct decode+resample+hash chain reproduces exactly
    // its 10 groups with these keepers and sizes.
    QuerySpec(
      "n126_image_phash_dedup",
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM documents GROUP BY doc_id % 10
        |ORDER BY keeper""".stripMargin) { (s, d) =>
      import s.implicits._
      val imgs = t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val c = (id % 10L).toInt
          val px = new Array[Byte](36 * 32 * 3)
          var y = 0
          while (y < 32) {
            val by = y / 4
            val asc = ((c >> (by % 4)) & 1) == 1
            var x = 0
            while (x < 36) {
              val bx = x / 4
              val base = if (asc) 30 + bx * 20 else 190 - bx * 20
              val noise = (((id * 131L + bx * 17L + by * 7L) % 17L) - 8L).toInt
              val v = (base + noise).toByte
              val o = (y * 36 + x) * 3
              px(o) = v; px(o + 1) = v; px(o + 2) = v
              x += 1
            }
            y += 1
          }
          (id, graft.operators.ImageCodec.encodePpm(
            graft.operators.ImageCodec.RawImage(36, 32, px)))
        }).toDF("doc_id", "payload")
      Multimodal.dHash(imgs, "payload")
        .groupBy(col("phash"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_members"))
        .select(col("keeper"), col("n_members"))
        .orderBy(col("keeper"))
    },

    // ----- n125: Unicode NFC normalization (canonical text cleaning) ----
    // The multilingual-corpus cleaning step: canonically-equivalent
    // strings (composed é vs e + COMBINING ACUTE U+0301) must hash and
    // dedup as ONE document, so normalization runs before any
    // fingerprinting. The harness corpus is ASCII, so each doc is
    // AUGMENTED with a deterministic suffix — odd doc ids get the
    // decomposed spelling, even ids the composed one — and the gate
    // checks three things per doc: codepoint length before/after (the
    // decomposed side must shrink by exactly the composition), the
    // changed flag, and the md5-prefix hash of the NORMALIZED string —
    // i.e. DuckDB's nfc_normalize and the JDK-backed graft_nfc must
    // produce byte-identical output (both implement UAX #15). Scale
    // shape: pure map-only projection with an is-normalized fast path
    // that skips the rebuild on already-NFC text (virtually all of a
    // real corpus).
    QuerySpec(
      "n125_unicode_nfc",
      """WITH a AS (SELECT doc_id,
        |    text || ' ' || CASE WHEN doc_id % 2 = 1 THEN 'e' || chr(769)
        |                        ELSE chr(233) END AS aug
        |  FROM documents),
        |n AS (SELECT doc_id, aug, nfc_normalize(aug) AS nrm FROM a)
        |SELECT doc_id, CAST(length(aug) AS BIGINT) AS len_raw,
        |  CAST(length(nrm) AS BIGINT) AS len_nfc,
        |  length(aug) <> length(nrm) AS changed,
        |  (('0x' || substr(md5(nrm), 1, 15))::UBIGINT)::BIGINT AS h
        |FROM n""".stripMargin) { (s, d) =>
      val aug = concat(col("text"), lit(" "),
        // explicit escapes: decomposed e+U+0301 vs composed U+00E9 must
      // survive any editor normalization of this source file
      when(col("doc_id") % 2 === 1, lit("e\u0301"))
          .otherwise(lit("\u00e9")))
      t(s, d, "documents")
        .select(col("doc_id"), aug.as("graft__aug"))
        .withColumn("graft__nrm", call_function("graft_nfc", col("graft__aug")))
        .select(col("doc_id"),
          length(col("graft__aug")).cast("long").as("len_raw"),
          length(col("graft__nrm")).cast("long").as("len_nfc"),
          (length(col("graft__aug")) =!= length(col("graft__nrm")))
            .as("changed"),
          TextOps.hexHash60(col("graft__nrm")).as("h"))
    },

    // ----- s33: lexical-index health stats (bucket occupancy) -----------
    // The report a rebalance/compaction policy reads: per-bucket
    // posting, vocabulary and document occupancy from ONE scan of the
    // narrow postings. The gate's real teeth: the bucket function is
    // the PORTABLE md5-prefix hash60 mod 16, so DuckDB recomputes the
    // same buckets from raw text — any drift in the hash, the mod, or
    // the shingle construction between engines fails the hash compare.
    QuerySpec(
      "s33_lexical_stats",
      s"""WITH $shingleCte,
         |b AS (SELECT doc_id, shingle,
         |        (('0x' || substr(md5(shingle), 1, 15))::UBIGINT
         |          % 16)::BIGINT AS bucket
         |      FROM sh)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_postings,
         |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_shingles,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val path = "target/sinks/s33_lex"
      LexicalIndex.build(t(s, d, "documents"), "doc_id", "text", path, n = 3)
      LexicalIndex.stats(s, path)
    },

    // ----- n124: streaming index maintenance (multi-delta parity) -------
    // The lexical index under CONTINUOUS ingest: the batch spelling of
    // a foreachBatch-driven maintenance loop — build on the first
    // batch, refresh on each subsequent micro-batch (two here), serve.
    // Associativity of the merge (postings append, df partial sums,
    // meta adds) makes batch boundaries invisible: the oracle computes
    // the idf serving answer over the FULL corpus from scratch, so the
    // gate proves build∘refresh∘refresh ≡ rebuild on the serving
    // answer — and StreamingIndexSpec drives the SAME maintenance
    // through a real MemoryStream/foreachBatch query (the n68/n106
    // stream≡batch recipe applied to warehouse maintenance).
    QuerySpec(
      "n124_stream_index_parity",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/n124_lex"
        val docs = t(s, d, "documents")
        LexicalIndex.build(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path, n = 3)
        LexicalIndex.refresh(
          docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", path,
          batchId = "b1")
        LexicalIndex.refresh(
          docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", path,
          batchId = "b2")
        LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- n123: full power iteration (the n98 step trained) ------------
    // Dominant-direction extraction (PCA top component) as a complete
    // training loop — the n119/n79/n67 discipline applied to the
    // spectral family: three rounds of y ← G·y with the d×d Gramian
    // never materialized, each round rescaled by an arithmetic
    // right-shift sized from length(bin(max|y|)) (the n90 no-libm
    // trick) so the exact BIGINT arithmetic never overflows at any
    // round count or corpus size. Shift floor semantics are identical
    // cross-engine (Spark shiftright ≡ DuckDB >>, negatives included);
    // the oracle unrolls all three rounds including the shifts.
    // Scale shape per round: the d-row state broadcasts as one array,
    // dots and contributions are map-only, the only exchanges are a
    // d-row aggregate and a 1-row max.
    QuerySpec(
      "n123_power_train",
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(floor(x * 1000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |dims AS (SELECT CAST(unnest(generate_series(1, 64)) AS BIGINT)
         |           AS dim),
         |y0 AS (SELECT dim, CAST(1 AS BIGINT) AS y FROM dims),
         |${piRoundCte(1)},
         |${piRoundCte(2)},
         |${piRoundCte(3)}
         |SELECT dim, y FROM y3""".stripMargin) { (s, d) =>
      Similarity.powerIteration(t(s, d, "embeddings"), "embedding",
        rounds = 3)
    },

    // ----- n127: n-gram containment (sub-document detection) ------------
    // The ASYMMETRIC dedup signal the resemblance family can't see:
    // containment |S(a)∩S(b)|/|S(a)| (Broder 1997) is ~1 for a short
    // doc pasted inside a long one even when Jaccard is tiny, so
    // LSH-on-resemblance (n3/n18) structurally misses the pair. Spark
    // resolves it with ONE fp-keyed inverted join over per-row-distinct
    // shingle fingerprints (the CrossDupSpans shape — longs only in the
    // exchange, text never shuffles); the oracle is the exact directed
    // intersection/|S(sub)| over the shared shingle CTEs. Ratio of
    // exact integers → bit-identical doubles cross-engine.
    QuerySpec(
      "n127_containment",
      s"""WITH $shingleCte,
         |pc AS (SELECT a.doc_id AS id_sub, b.doc_id AS id_sup,
         |         count(*) AS i
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle
         |         AND a.doc_id <> b.doc_id
         |       GROUP BY 1, 2)
         |SELECT id_sub, id_sup, CAST(i AS DOUBLE) / n AS containment
         |FROM pc JOIN shn ON shn.doc_id = id_sub
         |WHERE CAST(i AS DOUBLE) / n >= 0.9""".stripMargin) { (s, d) =>
      Containment.containmentPairs(
        t(s, d, "documents"), "doc_id", "text", threshold = 0.9)
    },

    // ----- n128: image resize (box-filter downsample, closed-form twin) -
    // Gates the resize stage the way n126 gates dHash: per doc a real
    // 32×32 PPM whose 4×4 blocks carry base value
    // (id·7 + bx·13 + by·29) % 200 + 20 plus ±amp pixel noise that
    // SUMS TO ZERO per block (checkerboard sign over the 16 pixels),
    // so the rounded box mean of each block is exactly the base — a
    // stride-sampler or off-by-one box window picks up the noise and
    // fails the hash compare. Pipeline exercised end-to-end: encodePpm
    // → resize (decode + box downsample ×4 + re-encode) → decodePpm →
    // integer pixel stats. Oracle is the closed form over doc_id: the
    // 8×8 output raster's byte sum is 3·Σ_blocks base. All integers —
    // no float anywhere.
    QuerySpec(
      "n128_image_resize",
      """SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
        |  CAST(3 * list_sum(list_transform(range(0, 64),
        |    i -> (doc_id * 7 + (i % 8) * 13 + (i // 8) * 29) % 200 + 20))
        |    AS BIGINT) AS pix_sum
        |FROM documents""".stripMargin) { (s, d) =>
      import s.implicits._
      val imgs = t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val px = new Array[Byte](32 * 32 * 3)
          var y = 0
          while (y < 32) {
            val by = y / 4
            var x = 0
            while (x < 32) {
              val bx = x / 4
              val base = ((id * 7 + bx * 13 + by * 29) % 200 + 20).toInt
              val amp = ((id + bx + by) % 7 + 1).toInt
              val v = (base + (if (((x + y) & 1) == 0) amp else -amp)).toByte
              val o = (y * 32 + x) * 3
              px(o) = v; px(o + 1) = v; px(o + 2) = v
              x += 1
            }
            y += 1
          }
          (id, graft.operators.ImageCodec.encodePpm(
            graft.operators.ImageCodec.RawImage(32, 32, px)))
        }).toDF("doc_id", "payload")
      Multimodal.resize(imgs, "payload", factor = 4)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, b) =>
          val img = graft.operators.ImageCodec.decodePpm(b).getOrElse(
            sys.error(s"resized payload for doc $id is not decodable PPM"))
          var sum = 0L
          var i = 0
          while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
          (id, img.width.toLong, img.height.toLong, sum)
        }).toDF("doc_id", "out_w", "out_h", "pix_sum")
    },

    // ----- n129: DoReMi-style domain reweighting ------------------------
    // The mixture-optimization step between measuring domains and
    // sampling them (n55/n81 consume weights like these): per-source
    // excess loss → clamped linear multiplicative-weights update →
    // normalize → smooth 10% toward uniform. Loss proxy here is mean
    // chars-per-token in 1e6 fixed point (a real verbosity signal and
    // exactly replayable). Everything BIGINT; Spark `div` ≡ DuckDB
    // `//` on the non-negative operands used. The oracle unrolls the
    // whole chain — group means, corpus mean, clamp, normalizer and
    // smoothing — so any drift in any step fails the hash compare.
    QuerySpec(
      "n129_doremi_weights",
      """WITH s AS (SELECT source,
        |    (CAST(n_chars AS BIGINT) * 1000000)
        |      // len(string_split(text, ' ')) AS score
        |  FROM documents),
        |dom AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
        |          CAST(sum(score) AS BIGINT) AS ssum
        |        FROM s GROUP BY 1),
        |g AS (SELECT CAST(sum(score) // count(*) AS BIGINT) AS gmean FROM s),
        |e AS (SELECT source, (ssum // cnt) - gmean AS excess
        |      FROM dom CROSS JOIN g),
        |w AS (SELECT source, excess,
        |        greatest(1000000 + excess, 1000) AS w FROM e),
        |tk AS (SELECT CAST(sum(w) AS BIGINT) AS tot,
        |         CAST(count(*) AS BIGINT) AS k FROM w)
        |SELECT source, CAST(excess AS BIGINT) AS excess,
        |  CAST((90 * ((w * 1000000) // tot) + 10 * (1000000 // k)) // 100
        |    AS BIGINT) AS alpha
        |FROM w CROSS JOIN tk""".stripMargin) { (s, d) =>
      DomainReweight.weights(
        t(s, d, "documents"), "source",
        expr("(CAST(n_chars AS BIGINT) * 1000000) div size(split(text, ' '))"))
        .withColumnRenamed("domain", "source")
    },

    // ----- n130: margin-based alignment mining --------------------------
    // Bitext/retrieval pairing with hubness correction (Artetxe &
    // Schwenk 2019): a query batch (vec_id % 50 = 0) is mined against
    // a disjoint corpus half (odd vec_ids); each pair's cosine is
    // discounted by its endpoints' top-4-neighbor mass. Cosine →
    // round-6 (the engine's parity point) → 1e6 BIGINT; the margin is
    // the DIVISION-FREE scaled form 2k·c − Σtop4ₓ − Σtop4_y, so every
    // rank the oracle replays is exact-integer — no float summation-
    // order risk anywhere past the single rounded cosine.
    QuerySpec(
      "n130_margin_mining",
      """WITH x AS (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |y AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id % 2 = 1),
        |p AS (SELECT sid, tid,
        |        CAST(round(round(list_cosine_similarity(y.v, x.v), 6)
        |          * 1000000) AS BIGINT) AS ci
        |      FROM x CROSS JOIN y),
        |sx AS (SELECT sid, CAST(sum(ci) AS BIGINT) AS sumx FROM (
        |        SELECT sid, ci, row_number() OVER (
        |          PARTITION BY sid ORDER BY ci DESC, tid) AS rn FROM p)
        |      WHERE rn <= 4 GROUP BY 1),
        |sy AS (SELECT tid, CAST(sum(ci) AS BIGINT) AS sumy FROM (
        |        SELECT tid, ci, row_number() OVER (
        |          PARTITION BY tid ORDER BY ci DESC, sid) AS rn FROM p)
        |      WHERE rn <= 4 GROUP BY 1),
        |m AS (SELECT p.sid, p.tid, 8 * ci - sumx - sumy AS margin
        |      FROM p JOIN sx USING (sid) JOIN sy USING (tid))
        |SELECT sid, tid, CAST(margin AS BIGINT) AS margin FROM (
        |  SELECT sid, tid, margin, row_number() OVER (
        |    PARTITION BY sid ORDER BY margin DESC, tid) AS rn FROM m)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.marginMining(
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        k = 4)
    },

    // ----- n131: blocked fuzzy-match entity resolution ------------------
    // Record linkage over the customer dimension: candidates only from
    // shared blocks (never the cross product), scored with the exact
    // Levenshtein distance — an integer metric both engines implement
    // identically, so the gate needs no float discipline at all. The
    // block key is COMPOSITE — (nation, 15-char name prefix) — because
    // the block size is the operator's quadratic term: nation alone
    // makes blocks grow with the corpus (measured 95× wall at 10×
    // rows), while the prefix caps them at a constant, making the total
    // work corpus-linear. Single-pass prefix blocking deliberately
    // trades recall on prefix-digit typos; n133's sorted-neighborhood
    // pass is the standard complement that catches exactly those.
    QuerySpec(
      "n131_fuzzy_er",
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND substr(a.c_name, 1, 15) = substr(b.c_name, 1, 15)
        |  AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) { (s, d) =>
      EntityResolution.blockedFuzzyPairs(
        t(s, d, "customer")
          .withColumn("graft__blk",
            concat(col("c_nationkey").cast("string"), lit("|"),
              substring(col("c_name"), 1, 15))),
        "c_custkey", "c_name", "graft__blk",
        maxDist = 1)
    },

    // ----- n132: prefix-truncation dedup --------------------------------
    // Truncated re-crawls / length-capped copies: doc a's text is a
    // STRICT prefix of doc b's. Candidates from a narrow hash60 block
    // on the first 32 chars (min corpus doc is 48 chars, so every true
    // pair shares the key); text rehydrates BY ID only for candidates.
    // Oracle is the exact all-pairs starts_with.
    QuerySpec(
      "n132_prefix_dedup",
      """SELECT a.doc_id AS id_prefix, b.doc_id AS id_full,
        |  CAST(length(a.text) AS BIGINT) AS prefix_len,
        |  CAST(length(b.text) AS BIGINT) AS full_len
        |FROM documents a JOIN documents b ON a.doc_id <> b.doc_id
        |  AND length(b.text) > length(a.text)
        |  AND starts_with(b.text, a.text)""".stripMargin) { (s, d) =>
      PrefixDedup.prefixPairs(t(s, d, "documents"), "doc_id", "text")
    },

    // ----- n133: sorted-neighborhood linkage ----------------------------
    // The complementary blocking scheme to n131's equality blocks:
    // global sort by name (SurrogateKey.denseRowNumber — range
    // repartition, never a one-reducer window), then each record meets
    // only its 3 rank-successors. Catches near-matches that straddle
    // any equality block boundary. Exact-integer end to end.
    QuerySpec(
      "n133_sorted_neighborhood",
      """WITH r AS (SELECT c_custkey, c_name,
        |    row_number() OVER (ORDER BY c_name, c_custkey) AS rk
        |  FROM customer)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) { (s, d) =>
      EntityResolution.sortedNeighborhoodPairs(
        t(s, d, "customer"), "c_custkey", "c_name",
        window = 4, maxDist = 1)
    },

    // ----- s34: IVF-layout health stats (cell occupancy) ----------------
    // The vector-side twin of s33: the report an IVF rebalance policy
    // reads, computed from the STORED s23-style layout (one scan of
    // the partitioned table, cells from directory values — the
    // embedding column itself is never needed for occupancy). The
    // oracle recomputes every cell assignment from raw embeddings, so
    // the gate proves the layout's partition directories carry exactly
    // the argmin-cell assignment. id_sum is the content signature: a
    // misplaced vector moves it even when counts collide.
    QuerySpec(
      "s34_ivf_stats",
      s"""WITH c AS (SELECT vec_id,
         |    ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |  FROM embeddings)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(vec_id) AS BIGINT) AS id_sum
         |FROM c GROUP BY 1 ORDER BY cell""".stripMargin) { (s, d) =>
      val path = "target/sinks/s34_ivf"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Similarity.nearestCell(Similarity.asDouble(col("embedding")), cents)
            .as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      s.read.parquet(path)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("id_sum"))
        .select(col("cell"), col("n_vecs"), col("id_sum"))
        .orderBy(col("cell"))
    },

    // ----- n134: novelty scoring against a reference corpus -------------
    // The curation inverse of contamination (n36): what fraction of a
    // doc's distinct 3-shingles is NEW relative to a reference half
    // (even doc_ids)? Unlike a benchmark, a reference corpus can't
    // broadcast, so the lookup is a distributed fp-keyed semi-join —
    // longs only in the exchange; the 100 TB note (Bloom prefilter
    // below the join) is in the operator doc. Exact-integer ratio.
    QuerySpec(
      "n134_novelty_score",
      s"""WITH $shingleCte,
         |ref AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
         |sc AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |  CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ref)
         |           THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
         |  CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM ref)
         |           THEN 0 ELSE 1 END) AS DOUBLE) / count(*) AS novelty
         |FROM sc GROUP BY 1""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      Decontaminate.noveltyScore(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3)
    },

    // ----- n135: windowed audio energy (silence segmentation) -----------
    // The n109 recipe extended from clip stats to a WINDOWED activity
    // profile: synthetic PCM16 WAVs whose 32-sample windows are either
    // exact silence ((id + win) % 3 = 0) or a deterministic signal,
    // encoded to real RIFF bytes and decoded back through the genuine
    // header walk. The oracle computes per-window energies closed-form
    // from the generator — a window misalignment, off-by-one in the
    // sample walk, or silence-flag drift fails the hash compare.
    QuerySpec(
      "n135_audio_energy",
      """WITH p AS (SELECT doc_id, 128 + (doc_id % 2) * 64 AS ns
        |           FROM documents),
        |s AS (SELECT doc_id, unnest(generate_series(0, ns - 1)) AS i
        |      FROM p),
        |v AS (SELECT doc_id, i // 32 AS win,
        |        CASE WHEN (doc_id + i // 32) % 3 = 0 THEN 0
        |             ELSE ((doc_id * 31 + i * 7919) % 4096) - 2048
        |        END AS x
        |      FROM s)
        |SELECT doc_id, CAST(win AS BIGINT) AS win,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x * x) AS BIGINT) AS sum_sq,
        |  (sum(x * x) = 0) AS is_silent
        |FROM v GROUP BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      val wavs = t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ns = (128 + (id % 2) * 64).toInt
          val samples = Array.tabulate(ns) { i =>
            if ((id + i / 32) % 3 == 0) 0.toShort
            else (((id * 31L + i.toLong * 7919L) % 4096L) - 2048L).toShort
          }
          (id, graft.operators.AudioCodec.encodePcm16Mono(8000, samples))
        }).toDF("doc_id", "payload")
      Multimodal.audioEnergyWindows(wavs, "payload", windowSamples = 32)
    },

    // ----- n136: near-dup graph triangles (template-family signal) ------
    // The dedup-audit metric that separates template families from
    // chance collisions: triangle-rich neighborhoods are boilerplate,
    // isolated edges are noise. Edges are the exact-verified J≥0.6
    // pair graph (the n3 machinery at a softer bar); enumeration is
    // the oriented two-join (wedges closed by a semi-join — each
    // triangle exactly once as a<b<c). The oracle replays the exact
    // pair graph and the same triple join. Degree orientation at scale
    // is documented in GraphMetrics (Schank & Wagner 2005).
    QuerySpec(
      "n136_dup_triangles",
      s"""WITH $shingleCte,
         |${jaccardPairsCte(0.6)},
         |e AS (SELECT id_a AS u, id_b AS v FROM dup)
         |SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |FROM e e1 JOIN e e2 ON e1.v = e2.u
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin) {
      (s, d) =>
        GraphMetrics.triangles(
          MinHashNearDup.nearDupPairs(
            t(s, d, "documents"), "doc_id", "text", threshold = 0.6),
          "id_a", "id_b")
    },

    // ----- n137: event-transition matrix (behavioral Markov model) ------
    // First-order transition estimation over per-user event streams —
    // the base model behind next-event prediction and funnel-shape
    // monitoring. Consecutive pairs come from a per-user window in
    // (ts, event_id)-total order; probabilities are exact-integer
    // ratios n / Σ_from n. The from-type totals are a k×k-sized
    // aggregate joined back as a broadcast.
    QuerySpec(
      "n137_event_transitions",
      """WITH o AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |        count(*) AS n
        |      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t
        |        FROM c GROUP BY 1)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / t AS p
        |FROM c JOIN tot USING (from_type)""".stripMargin) { (s, d) =>
      EventStream.transitionMatrix(
        EventStream.transitionPairs(t(s, d, "events")))
    },

    // ----- n138: streaming transition maintenance (fold parity) ---------
    // The n137 matrix under CONTINUOUS ingest: the batch spelling of
    // the streaming maintenance loop — three event-time-ordered
    // micro-batches folded with a per-user last-event CARRY, so the
    // pair that straddles a batch boundary is counted exactly once
    // (the state TransitionProcessor keeps in the state store, spelled
    // as a one-row-per-user relation). The oracle computes the matrix
    // over the whole stream from scratch: the gate proves
    // fold(b1∘b2∘b3) ≡ rebuild — and StreamingTransitionsSpec drives
    // the SAME maintenance through a real MemoryStream with a
    // checkpointed restart (the n106/n124 recipe).
    QuerySpec(
      "n138_stream_transitions_parity",
      """WITH o AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type,
        |        count(*) AS n
        |      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t
        |        FROM c GROUP BY 1)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / t AS p
        |FROM c JOIN tot USING (from_type)""".stripMargin) { (s, d) =>
      val e = t(s, d, "events")
      val c1 = lit("2024-01-11").cast("timestamp")
      val c2 = lit("2024-01-21").cast("timestamp")
      EventStream.transitionsBatchFold(Seq(
        e.filter(col("ts") < c1),
        e.filter(col("ts") >= c1 && col("ts") < c2),
        e.filter(col("ts") >= c2)))
    },

    // ----- n139: binary-quantization ANN (sign codes + Hamming) ---------
    // The coarsest compression point of the retrieval family: 1-bit
    // sign codes (64-dim f32 → 8 B, packed as two 32-bit halves so no
    // shift ever touches a BIGINT sign bit), Hamming top-64 via
    // XOR+popcount, exact cosine rerank to top-10. Every stage is
    // exact-replayable: float sign tests, integer bit ops, and the
    // round-6 cosine only inside the final rerank. The oracle packs,
    // XORs and popcounts the same bits.
    QuerySpec(
      "n139_binary_ann",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |code AS (SELECT vec_id, v,
        |    CAST(list_sum(list_transform(range(0, 32),
        |      j -> CASE WHEN v[j + 1] > 0 THEN (1::BIGINT << j)
        |           ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(range(32, 64),
        |      j -> CASE WHEN v[j + 1] > 0 THEN (1::BIGINT << (j - 32))
        |           ELSE 0 END)) AS BIGINT) AS hi
        |  FROM c),
        |q AS (SELECT lo, hi, v AS qv FROM code WHERE vec_id = 7),
        |h AS (SELECT vec_id, v,
        |        CAST(bit_count(xor(code.lo, (SELECT lo FROM q)))
        |          + bit_count(xor(code.hi, (SELECT hi FROM q)))
        |          AS BIGINT) AS hamming
        |      FROM code WHERE vec_id <> 7),
        |s AS (SELECT vec_id, v, hamming,
        |        row_number() OVER (ORDER BY hamming, vec_id) AS rk
        |      FROM h)
        |SELECT vec_id, hamming,
        |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
        |FROM s WHERE rk <= 64
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.binaryHammingTopK(
        emb.filter(col("vec_id") =!= 7), "vec_id", "embedding",
        emb.filter(col("vec_id") === 7), "embedding",
        shortlist = 64, k = 10)
    },

    // ----- n140: HTML text extraction (closed-form strip twin) ----------
    // The web-crawl cleaning step, gated the generator-twin way: each
    // doc is wrapped in deterministic adversarial HTML (markup inside
    // a comment, a bare `<` inside a script, inline tags mid-stream)
    // and TextOps.stripHtml must recover the EXACT original text —
    // the oracle never builds HTML, it just states the original md5
    // and the closed-form raw length, so any ordering or regex bug in
    // the stripper (tags before comments, script content leaking,
    // entity double-unescape) fails the hash compare.
    QuerySpec(
      "n140_html_strip",
      s"""SELECT doc_id,
         |  CAST(length(text) + 7 * ((len(string_split(text, ' ')) + 6) // 7)
         |    + ${htmlPfx.length + htmlSfx.length} AS BIGINT) AS n_raw,
         |  CAST(length(text) AS BIGINT) AS n_clean,
         |  md5(text) AS clean_md5
         |FROM documents""".stripMargin) { (s, d) =>
      val ws = TextOps.tokens(col("text"))
      val bolded = array_join(
        transform(ws, (w, i) =>
          when(i % 7 === 0, concat(lit("<b>"), w, lit("</b>")))
            .otherwise(w)),
        " ")
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit(htmlPfx), bolded, lit(htmlSfx)).as("graft__html"))
        .select(col("doc_id"),
          length(col("graft__html")).cast("long").as("n_raw"),
          TextOps.stripHtml(col("graft__html")).as("graft__clean"))
        .select(col("doc_id"), col("n_raw"),
          length(col("graft__clean")).cast("long").as("n_clean"),
          md5(col("graft__clean")).as("clean_md5"))
    },

    // ----- s35: binary-code table as WAREHOUSE LAYOUT -------------------
    // The s26 discipline applied to n139's sign codes: the 16-byte
    // code relation is materialized ONCE; the serving scan reads
    // (vec_id, lo, hi) only — 16× narrower than the vector table —
    // and the rerank rejoins vectors by id with the shortlist
    // broadcast. Same oracle as n139: serve-from-layout ≡ rebuild.
    QuerySpec(
      "s35_binary_code_layout",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |code AS (SELECT vec_id, v,
        |    CAST(list_sum(list_transform(range(0, 32),
        |      j -> CASE WHEN v[j + 1] > 0 THEN (1::BIGINT << j)
        |           ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(range(32, 64),
        |      j -> CASE WHEN v[j + 1] > 0 THEN (1::BIGINT << (j - 32))
        |           ELSE 0 END)) AS BIGINT) AS hi
        |  FROM c),
        |q AS (SELECT lo, hi, v AS qv FROM code WHERE vec_id = 7),
        |h AS (SELECT vec_id, v,
        |        CAST(bit_count(xor(code.lo, (SELECT lo FROM q)))
        |          + bit_count(xor(code.hi, (SELECT hi FROM q)))
        |          AS BIGINT) AS hamming
        |      FROM code WHERE vec_id <> 7),
        |s AS (SELECT vec_id, v, hamming,
        |        row_number() OVER (ORDER BY hamming, vec_id) AS rk
        |      FROM h)
        |SELECT vec_id, hamming,
        |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
        |FROM s WHERE rk <= 64
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val path = "target/sinks/s35_bincodes"
      val emb = t(s, d, "embeddings")
      Similarity.signCodes(
        emb.filter(col("vec_id") =!= 7), "vec_id", "embedding")
        .write.mode("overwrite").parquet(path)
      Similarity.binaryTopKFromCodes(
        s.read.parquet(path),
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 7), "embedding",
        shortlist = 64, k = 10)
    },

    // ----- s37: MinHash band index as WAREHOUSE LAYOUT ------------------
    // Incremental near-dup serving (the stored-layout discipline applied
    // to the LSH family): the corpus band postings + signatures are
    // built ONCE; a delta batch (every 7th doc re-keyed, simulating a
    // re-crawl) is sketched map-only and probed against the stored
    // postings — corpus text touched only candidate-sized in the exact
    // verify (the n132 rehydration pattern). Oracle: the exact
    // delta×corpus shingle Jaccard at the same threshold.
    QuerySpec(
      "s37_band_index",
      s"""WITH $shingleCte,
         |dsh AS (SELECT doc_id + 1000000 AS delta_id, shingle
         |        FROM sh WHERE doc_id % 7 = 3),
         |dn AS (SELECT doc_id + 1000000 AS delta_id, n
         |       FROM shn WHERE doc_id % 7 = 3),
         |i AS (SELECT d.delta_id, sh.doc_id AS corpus_id, count(*) AS i
         |      FROM dsh d JOIN sh USING (shingle) GROUP BY 1, 2)
         |SELECT i.delta_id, i.corpus_id,
         |  CAST(i AS DOUBLE) / (dn.n + shn.n - i) AS jaccard
         |FROM i JOIN dn ON dn.delta_id = i.delta_id
         |      JOIN shn ON shn.doc_id = i.corpus_id
         |WHERE CAST(i AS DOUBLE) / (dn.n + shn.n - i) >= 0.8""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val delta = docs.filter(col("doc_id") % 7 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val path = "target/sinks/s37_band"
        BandIndex.build(docs, "doc_id", "text", path)
        BandIndex.probe(docs, delta, "doc_id", "text", path, threshold = 0.8)
    },

    // ----- s50: single-document point probe on the band index -----------
    // The s31 serving discipline applied to the LSH layout: "is THIS
    // text a near-dup of anything indexed?" answered for an ARBITRARY
    // literal query. The query is sketched DRIVER-SIDE (bit-parity
    // twins of graft_minhash_sig / graft_minhash_band_mix — law-tested)
    // so the probe plan is one postings scan with 16 pushed
    // (band, band_val) equalities (row-group pruning on the band_val
    // sort), a candidate-sized literal-sig prefilter, and the exact
    // candidate-sized verify. The query here is doc 45's text with one
    // appended token — doc 45 sits in a planted near-dup family, so
    // the probe must surface the doc ITSELF and its family members;
    // the oracle computes the exact Jaccard of that query against
    // every doc (the s37 probabilistic contract covers the LSH leg).
    QuerySpec(
      "s50_band_point_probe",
      s"""WITH $shingleCte,
         |qd AS (SELECT text || ' zzz' AS t FROM documents WHERE doc_id = 45),
         |qt AS (SELECT unnest(string_split(t, ' ')) AS w,
         |              generate_subscripts(string_split(t, ' '), 1) AS pos
         |       FROM qd),
         |qsh AS (SELECT DISTINCT
         |          w || ' ' || lead(w, 1) OVER win || ' ' ||
         |            lead(w, 2) OVER win AS shingle
         |        FROM qt WINDOW win AS (ORDER BY pos)
         |        QUALIFY shingle IS NOT NULL),
         |qn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qsh),
         |i AS (SELECT sh.doc_id, count(*) AS i
         |      FROM sh JOIN qsh USING (shingle) GROUP BY 1)
         |SELECT i.doc_id,
         |  CAST(i AS DOUBLE) / ((SELECT n FROM qn) + shn.n - i) AS jaccard
         |FROM i JOIN shn ON shn.doc_id = i.doc_id
         |WHERE CAST(i AS DOUBLE) / ((SELECT n FROM qn) + shn.n - i) >= 0.8
         |ORDER BY jaccard DESC, i.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val path = "target/sinks/s50_band"
      BandIndex.build(docs, "doc_id", "text", path)
      val qt = docs.filter(col("doc_id") === 45)
        .select(col("text")).head().getString(0) + " zzz"
      BandIndex.pointProbe(docs, "doc_id", "text", path, qt, threshold = 0.8)
    },

    // ----- n141: vocabulary coverage curve ------------------------------
    // The tokenizer-design question n26/n33 stop short of: how many
    // vocabulary entries cover 50/90/99% of the token stream? Exact
    // integers throughout (cum·100 ≥ pct·total). Scale shape (the
    // n86/n90 histogram discipline): the type vocabulary GROWS with the
    // corpus (Heaps' law), so no window may run over it — types are
    // first grouped BY COUNT VALUE n (one vocab-sized agg with map-side
    // partials), and the rank/cumulative window runs over the DISTINCT
    // COUNT VALUES only: ≤ O(√total-tokens) rows by the partition-
    // number bound (Σ of d distinct counts ≥ 1+2+…+d = d(d+1)/2), tiny
    // in practice under Zipf. Within a count group ranks are contiguous
    // and each rank adds the same n, so the minimal covering rank is
    // closed-form integer arithmetic off the group's cumulative
    // prefix: j = ⌈(pct·total − 100·prev_mass) / (100·n)⌉. Plan-pinned
    // (QueryPlansSpec): the only window consumes the histogram
    // aggregate, never a corpus-derived relation.
    QuerySpec(
      "n141_vocab_coverage",
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |c AS (SELECT w, count(*) AS n FROM tk GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rk,
        |        sum(n) OVER (ORDER BY n DESC, w
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |p AS (SELECT unnest([50, 90, 99]) AS pct)
        |SELECT CAST(p.pct AS BIGINT) AS pct,
        |  CAST(min(r.rk) AS BIGINT) AS k_tokens,
        |  CAST(min_by(r.cum, r.rk) AS BIGINT) AS covered,
        |  CAST(min(t.total) AS BIGINT) AS total
        |FROM p CROSS JOIN t JOIN r ON r.cum * 100 >= p.pct * t.total
        |GROUP BY p.pct""".stripMargin) { (s, d) =>
      val counts = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val hist = counts.groupBy(col("n"))
        .agg(count(lit(1)).as("graft__types"))
      // unpartitioned window over the count-of-counts HISTOGRAM: rows =
      // distinct frequency values, O(sqrt(total token mass)) under any
      // Zipf-like corpus — thousands at 100 TB, never corpus-sized
      val ord = Window.orderBy(col("n").desc)
      val h = hist
        .withColumn("graft__cumt", sum(col("graft__types")).over(ord))
        .withColumn("graft__cumm",
          sum(col("graft__types") * col("n")).over(ord))
        .withColumn("graft__pt", col("graft__cumt") - col("graft__types"))
        .withColumn("graft__pm",
          col("graft__cumm") - col("graft__types") * col("n"))
      val total = hist.agg(sum(col("graft__types") * col("n")).as("total"))
      val pcts = s.range(1).select(
        explode(array(lit(50L), lit(90L), lit(99L))).as("pct"))
      h.crossJoin(broadcast(total))
        .crossJoin(broadcast(pcts))
        // exactly one bracketing count group per pct: the first (in
        // n-descending rank order) whose cumulative mass crosses the
        // threshold
        .filter(col("graft__cumm") * 100 >= col("pct") * col("total") &&
          col("graft__pm") * 100 < col("pct") * col("total"))
        .withColumn("graft__j",
          expr("(pct * total - 100 * graft__pm + 100 * n - 1)" +
            " div (100 * n)"))
        .select(col("pct"),
          (col("graft__pt") + col("graft__j")).as("k_tokens"),
          (col("graft__pm") + col("graft__j") * col("n")).as("covered"),
          col("total"))
    },

    // ----- n142: per-source quantile normalization ----------------------
    // Score normalization before mixing (n129's natural companion):
    // each doc's score maps to its WITHIN-SOURCE percentile (1e6
    // fixed point) and then to the GLOBAL score at that percentile —
    // classic quantile normalization, all exact-integer. Per-source
    // ranks are source-partitioned windows; the global rank relation
    // comes from SurrogateKey.denseRowNumber (range-partitioned, no
    // one-reducer funnel); the percentile → global-rank mapping is a
    // hash join on the dense rank key.
    QuerySpec(
      "n142_quantile_normalize",
      """WITH s AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v
        |           FROM documents),
        |ns AS (SELECT source, count(*) AS n FROM s GROUP BY 1),
        |r AS (SELECT doc_id, source, v,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY v, doc_id) AS rk
        |      FROM s),
        |pr AS (SELECT r.doc_id, r.source,
        |         CASE WHEN ns.n > 1
        |           THEN ((rk - 1) * 1000000) // (ns.n - 1)
        |           ELSE 0 END AS pct
        |       FROM r JOIN ns ON ns.source = r.source),
        |g AS (SELECT v AS gv,
        |        row_number() OVER (ORDER BY v, doc_id) AS grk FROM s),
        |t AS (SELECT count(*) AS n FROM s)
        |SELECT p.doc_id, p.source, CAST(p.pct AS BIGINT) AS pct,
        |  CAST(g.gv AS BIGINT) AS qnorm
        |FROM pr p CROSS JOIN t
        |JOIN g ON g.grk = 1 + (p.pct * (t.n - 1)) // 1000000"""
        .stripMargin) { (s, d) =>
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("v"))
      val ns = base.groupBy(col("source")).agg(count(lit(1)).as("graft__n"))
      val rk = row_number().over(
        Window.partitionBy(col("source")).orderBy(col("v"), col("doc_id")))
      val pr = base
        .withColumn("graft__rk", rk)
        .join(broadcast(ns), Seq("source"))
        // row_number is IntegerType: the ×1e6 must happen in BIGINT or
        // it overflows at ~2.1k rows per source (caught by the 10×
        // drill under ANSI mode)
        .withColumn("pct",
          when(col("graft__n") > 1,
            expr("((CAST(graft__rk AS BIGINT) - 1) * 1000000)" +
              " div (graft__n - 1)"))
            .otherwise(lit(0L)))
      val g = SurrogateKey.denseRowNumber(
        base.select(col("v"), col("doc_id")), "graft__grk",
        col("v"), col("doc_id"))
        .select(col("graft__grk"), col("v").as("graft__gv"))
      val total = base.agg(count(lit(1)).as("graft__total"))
      pr.crossJoin(broadcast(total))
        .withColumn("graft__grk",
          expr("1 + (pct * (graft__total - 1)) div 1000000"))
        .join(g, Seq("graft__grk"))
        .select(col("doc_id"), col("source"), col("pct"),
          col("graft__gv").as("qnorm"))
    },

    // ----- n143: k-anonymity generalization (privacy gate) --------------
    // Training corpora ship with quasi-identifier metadata (lang,
    // source, size); a release gate must ensure no QI combination
    // isolates fewer than k docs (Sweeney 2002). One generalization
    // round: QI-combo counts (bounded cardinality — lang×source×
    // log2-bucket), the under-k combos' rows generalized up the
    // hierarchy (source→'*', bucket→suppressed), then re-counted.
    // Scale shape: ONE corpus agg + the counts BROADCAST back onto a
    // map-only projection + one re-agg; shuffles carry QI keys, never
    // text. Like n96's water-fill, the fixpoint's further rounds
    // iterate this same round.
    QuerySpec(
      "n143_k_anonymity",
      """WITH q AS (SELECT lang, source,
        |             CAST(length(bin(n_chars)) AS BIGINT) AS lb
        |           FROM documents),
        |c AS (SELECT lang, source, lb, count(*) AS n
        |      FROM q GROUP BY 1, 2, 3),
        |a AS (SELECT q.lang,
        |        CASE WHEN c.n < 5 THEN '*' ELSE q.source END AS source_out,
        |        CASE WHEN c.n < 5 THEN NULL ELSE q.lb END AS len_bucket,
        |        c.n < 5 AS generalized
        |      FROM q JOIN c USING (lang, source, lb))
        |SELECT lang, source_out, len_bucket, generalized,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM a GROUP BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
      val k = 5L
      val q = t(s, d, "documents")
        .select(col("lang"), col("source"),
          length(bin(col("n_chars"))).cast("long").as("lb"))
      val counts = q.groupBy(col("lang"), col("source"), col("lb"))
        .agg(count(lit(1)).as("graft__n"))
      q.join(broadcast(counts), Seq("lang", "source", "lb"))
        .withColumn("generalized", col("graft__n") < k)
        .select(col("lang"),
          when(col("generalized"), lit("*")).otherwise(col("source"))
            .as("source_out"),
          when(col("generalized"), lit(null).cast("long")).otherwise(col("lb"))
            .as("len_bucket"),
          col("generalized"))
        .groupBy(col("lang"), col("source_out"), col("len_bucket"),
          col("generalized"))
        .agg(count(lit(1)).as("n"))
    },

    // ----- n144: span-corruption pretraining pairs (T5 denoising) -------
    // Raffel et al. 2020's denoising objective as a DATA op: ~15% of
    // token positions mask deterministically (md5 residue of
    // doc_id:pos — reproducible, new corpus pass ≡ same pairs),
    // consecutive masked positions collapse into ONE numbered sentinel
    // in the input and expand behind it in the target. The whole
    // input/target construction is a per-row sequential fold (the n52
    // discipline) — map-only, zero exchanges below the final gate
    // projection; the oracle rebuilds both strings with lag/running-sum
    // windows + ordered string_agg and must match md5-for-md5.
    QuerySpec(
      "n144_span_corruption",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |                generate_subscripts(string_split(text, ' '), 1) AS pos
        |              FROM documents),
        |m AS (SELECT doc_id, w, pos,
        |        ((('0x' || substr(md5(doc_id || ':' || pos), 1, 15))
        |          ::UBIGINT)::BIGINT % 100) < 15 AS mk
        |      FROM toks),
        |g AS (SELECT doc_id, w, pos, mk,
        |        CASE WHEN mk AND NOT coalesce(lag(mk) OVER win, false)
        |             THEN 1 ELSE 0 END AS st
        |      FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |h AS (SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY pos)
        |        AS sid FROM g),
        |inp AS (SELECT doc_id,
        |          string_agg(CASE WHEN NOT mk THEN w
        |                     ELSE '<extra_id_' || (sid - 1) || '>' END,
        |                     ' ' ORDER BY pos) AS input
        |        FROM h WHERE NOT mk OR st = 1 GROUP BY doc_id),
        |tp AS (SELECT doc_id, 2 * pos AS ok, w AS piece FROM h WHERE mk
        |       UNION ALL
        |       SELECT doc_id, 2 * pos - 1,
        |         '<extra_id_' || (sid - 1) || '>' FROM h WHERE st = 1),
        |tgt AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ok) AS target
        |        FROM tp GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           CAST(sum(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT)
        |             AS n_masked,
        |           CAST(sum(st) AS BIGINT) AS n_spans
        |         FROM h GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.n_masked, b.n_spans,
        |  md5(coalesce(i.input, '')) AS input_md5,
        |  md5(coalesce(tg.target, '')) AS target_md5
        |FROM base b LEFT JOIN inp i USING (doc_id)
        |LEFT JOIN tgt tg USING (doc_id)""".stripMargin) { (s, d) =>
      val fold =
        """aggregate(
          |  sequence(1, size(ws)),
          |  named_struct(
          |    'inp', cast(array() as array<string>),
          |    'tgt', cast(array() as array<string>),
          |    'ns', cast(0 as bigint), 'pm', false),
          |  (a, i) -> CASE
          |    WHEN element_at(mk, i) AND NOT a.pm THEN named_struct(
          |      'inp', array_append(a.inp,
          |               concat('<extra_id_', cast(a.ns as string), '>')),
          |      'tgt', array_append(array_append(a.tgt,
          |               concat('<extra_id_', cast(a.ns as string), '>')),
          |               element_at(ws, i)),
          |      'ns', a.ns + 1, 'pm', true)
          |    WHEN element_at(mk, i) THEN named_struct(
          |      'inp', a.inp,
          |      'tgt', array_append(a.tgt, element_at(ws, i)),
          |      'ns', a.ns, 'pm', true)
          |    ELSE named_struct(
          |      'inp', array_append(a.inp, element_at(ws, i)),
          |      'tgt', a.tgt, 'ns', a.ns, 'pm', false)
          |  END,
          |  a -> named_struct('inp', array_join(a.inp, ' '),
          |                    'tgt', array_join(a.tgt, ' '),
          |                    'ns', a.ns))""".stripMargin
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
        .withColumn("mk", expr(
          "transform(sequence(1, size(ws)), i -> " +
            "(cast(conv(substr(md5(concat(cast(doc_id as string), ':', " +
            "cast(i as string))), 1, 15), 16, 10) as bigint) % 100) < 15)"))
        .withColumn("graft__r", expr(fold))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          expr("cast(size(filter(mk, x -> x)) as bigint)").as("n_masked"),
          col("graft__r.ns").as("n_spans"),
          md5(col("graft__r.inp")).as("input_md5"),
          md5(col("graft__r.tgt")).as("target_md5"))
    },

    // ----- n145: Space-Saving heavy hitters with exact gate -------------
    // The counter-based heavy-hitter sketch (graft.functions.
    // SpaceSavingAgg — Metwally et al. 2005 + the Agarwal et al. 2013
    // mergeable-summaries merge) over the bigram stream, n49-style: the
    // corpus is near-uniform, so 8 deterministic heavy grams carry
    // N0 div 32 planted mass each (scale-proportional — the same
    // construction at every SF). Oracle = the exact over-threshold set
    // plus literal `true`s; the Spark side must (a) surface every
    // exact heavy hitter among its ≤ capacity candidates (presence
    // guarantee: true > N/capacity cannot be evicted) and (b) prove
    // est ≥ exact and est ≤ exact + N div capacity for each. Sketch
    // state is O(capacity) and merges map-side — the corpus-sized
    // group-by here exists only to feed the gate's exact comparison.
    QuerySpec(
      "n145_space_saving_topk",
      s"""WITH $bigramCteSql,
         |g AS (SELECT w1 || ' ' || w2 AS w FROM p),
         |n0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM g),
         |hh AS (SELECT 'hh_' || i AS w,
         |         unnest(generate_series(1, (SELECT c FROM n0) // 32)) AS rep
         |       FROM generate_series(0, 7) t(i)),
         |st AS (SELECT w FROM g UNION ALL SELECT w FROM hh),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st),
         |c AS (SELECT w, CAST(count(*) AS BIGINT) AS n_exact
         |      FROM st GROUP BY 1)
         |SELECT w, n_exact, true AS est_ge_exact, true AS est_within_bound
         |FROM c WHERE n_exact > (SELECT n FROM tot) // 64""".stripMargin) {
      (s, d) =>
        val grams = t(s, d, "documents")
          .select(explode(transform(
            TextOps.bigrams(TextOps.tokens(col("text"))),
            p => concat(p.getField("w1"), lit(" "), p.getField("w2"))))
            .as("w"))
        val n0 = grams.agg(count(lit(1)).as("graft__c"))
        val planted = s.range(0, 8)
          .select(concat(lit("hh_"), col("id")).as("w"))
          .crossJoin(broadcast(n0))
          .select(col("w"),
            explode(sequence(lit(1L), expr("graft__c div 32"))).as("graft__rep"))
          .select("w")
        val stream = graft.operators.Materialize.shared(
          grams.unionByName(planted))
        val cands = stream
          .agg(expr("graft_space_saving(w, 256)").as("graft__sk"))
          .select(explode(col("graft__sk")).as("c"))
          .select(col("c.w").as("w"), col("c.est").as("est"),
            col("c.err").as("err"))
        val tot = stream.agg(count(lit(1)).as("graft__n"))
        stream.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(tot))
          .filter(col("n_exact") > expr("graft__n div 64"))
          .join(cands, Seq("w"))
          .select(col("w"), col("n_exact"),
            (col("est") >= col("n_exact")).as("est_ge_exact"),
            (col("est") <= col("n_exact") + expr("graft__n div 256"))
              .as("est_within_bound"))
    },

    // ----- n146: Zipf frequency-rank curve (corpus diagnostic) ----------
    // The log-log frequency curve tokenizer/mixture design reads slope
    // off of: vocabulary ranked by frequency, rank binned by
    // ⌊log2 rank⌋+1 = length(bin(rk)) (the n90 integer-log trick — no
    // libm), per-bin type count, token mass and log-frequency mass
    // Σ length(bin(f)). Scale shape (the n141/n86 histogram
    // discipline — the bigram type vocabulary grows even faster than
    // the unigram one, so no window may run over it): types group BY
    // COUNT VALUE first; the cumulative-rank window runs over the
    // DISTINCT COUNT VALUES (≤ O(√total) rows); within a count group
    // ranks are CONTIGUOUS [lo, hi], a run that overlaps ≤ 64 rank
    // buckets, so each group explodes into its bucket overlaps
    // (|[lo,hi] ∩ [2^(b−1), 2^b−1]| ranks per bucket b) and the curve
    // is one tiny grouped agg over those overlap rows — every per-type
    // quantity (n, length(bin(n))) is constant within a group, so the
    // overlap COUNT carries all of it. Plan-pinned like n141.
    QuerySpec(
      "n146_zipf_curve",
      s"""WITH $bigramCteSql,
         |c AS (SELECT w1 || ' ' || w2 AS w, count(*) AS n
         |      FROM p GROUP BY 1),
         |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rk
         |      FROM c)
         |SELECT CAST(length(bin(rk)) AS BIGINT) AS rank_bucket,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(n) AS BIGINT) AS token_mass,
         |  CAST(sum(length(bin(n))) AS BIGINT) AS log_freq_mass
         |FROM r GROUP BY 1""".stripMargin) { (s, d) =>
      val counts = t(s, d, "documents")
        .select(explode(transform(
          TextOps.bigrams(TextOps.tokens(col("text"))),
          p => concat(p.getField("w1"), lit(" "), p.getField("w2"))))
          .as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val hist = counts.groupBy(col("n"))
        .agg(count(lit(1)).as("graft__types"))
      val h = hist
        // unpartitioned window over the count-of-counts histogram —
        // rows = distinct bigram frequencies, O(sqrt(total bigram
        // mass)); bounded by construction, never corpus-sized
        .withColumn("graft__cumt",
          sum(col("graft__types")).over(Window.orderBy(col("n").desc)))
        .withColumn("graft__lo",
          col("graft__cumt") - col("graft__types") + 1)
        // the group's contiguous rank run [lo, cumt] spans the buckets
        // length(bin(lo)) .. length(bin(cumt)) — ≤ 64 rows per group
        .withColumn("graft__b",
          explode(sequence(length(bin(col("graft__lo"))),
            length(bin(col("graft__cumt"))))))
        .withColumn("graft__bl",
          expr("shiftleft(CAST(1 AS BIGINT), graft__b - 1)"))
        .withColumn("graft__ov",
          least(col("graft__cumt"), col("graft__bl") * 2 - 1) -
            greatest(col("graft__lo"), col("graft__bl")) + 1)
      h.groupBy(col("graft__b").cast("long").as("rank_bucket"))
        .agg(sum(col("graft__ov")).as("n_types"),
          sum(col("graft__ov") * col("n")).as("token_mass"),
          sum(col("graft__ov") * length(bin(col("n"))).cast("long"))
            .as("log_freq_mass"))
    },

    // ----- n147: URL canonicalization dedup (crawl-frontier staple) -----
    // Canonical-URL dedup is the first dedup pass of every web corpus:
    // scheme/host case, default ports, fragments, tracking params and
    // pre-query trailing slashes must all collapse. Raw URLs are
    // synthesized adversarially from doc_id residues (the n140
    // closed-form-twin discipline: case flips by id%2/id%3, :443 by
    // id%5, utm params by id%2, fragment by id%4, trailing slash by
    // id%3) and the ORACLE asserts the closed-form canonical directly —
    // any normalization bug fails the hash compare. Map-only chain +
    // one canonical-keyed agg; the only regexes are RE2-safe.
    QuerySpec(
      "n147_url_canonical",
      """SELECT 'https://www.site' || (doc_id % 40) || '.com/p/'
        |    || (doc_id % 7) || '?id=' || (doc_id % 5) AS url,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      val raw = t(s, d, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, "https").otherwise("HTTPS"),
          lit("://"),
          when(col("doc_id") % 3 === 0, "WWW.Site").otherwise("www.site"),
          (col("doc_id") % 40).cast("string"), lit(".com"),
          when(col("doc_id") % 5 === 0, ":443").otherwise(""),
          lit("/p/"), (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 3 === 1, "/").otherwise(""),
          lit("?id="), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 2 === 0,
            "&utm_source=feed&utm_campaign=x").otherwise(""),
          when(col("doc_id") % 4 === 0, "#sec").otherwise("")).as("raw"))
      val lowered = concat(
        lower(regexp_extract(col("raw"), "^[a-zA-Z]+://[^/]+", 0)),
        expr("substring(raw, length(regexp_extract(raw, '^[a-zA-Z]+://[^/]+', 0)) + 1)"))
      raw
        .withColumn("u", lowered)
        .withColumn("u", regexp_replace(col("u"), "#.*$", ""))
        .withColumn("u", regexp_replace(col("u"), "&utm_[^&#]*", ""))
        .withColumn("u", regexp_replace(col("u"), ":443/", "/"))
        .withColumn("u", regexp_replace(col("u"), "/\\?", "?"))
        .groupBy(col("u").as("url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    },

    // ----- n148: per-group MAD outlier flagging (robust stats) ----------
    // n34's z-score breaks on heavy-tailed length distributions (the
    // outliers inflate their own σ); the robust spelling is median ±
    // 3·MAD (Leys et al. 2013). All medians here are of INTEGERS, so
    // every interpolated midpoint is exactly k or k+0.5 — doubled into
    // BIGINTs (med2 = 2·median) the whole chain is exact integer
    // arithmetic and the outlier test |x−med| > 3·MAD becomes
    // 2·d > 3·mad2 with d = |2x − med2|. Group medians broadcast back
    // (k langs); at corpus scale the exact median would take the n86
    // histogram-window form (n_chars is bounded-cardinality), which
    // this query's two-pass shape composes with directly.
    QuerySpec(
      "n148_mad_outliers",
      """WITH b AS (SELECT lang, n_chars AS x FROM documents),
        |m AS (SELECT lang, CAST(median(x) * 2 AS BIGINT) AS med2
        |      FROM b GROUP BY 1),
        |dd AS (SELECT b.lang, x, abs(2 * x - med2) AS d, med2
        |       FROM b JOIN m USING (lang)),
        |md AS (SELECT lang, med2, CAST(count(*) AS BIGINT) AS n,
        |         CAST(median(d) * 2 AS BIGINT) AS mad2
        |       FROM dd GROUP BY 1, 2)
        |SELECT md.lang, md.n, md.med2, md.mad2,
        |  CAST(sum(CASE WHEN 2 * dd.d > 3 * md.mad2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM md JOIN dd USING (lang)
        |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
      val base = t(s, d, "documents")
        .select(col("lang"), col("n_chars").cast("long").as("x"))
      val med = base.groupBy(col("lang"))
        .agg((median(col("x")) * 2).cast("long").as("med2"))
      val dd = base.join(broadcast(med), Seq("lang"))
        .withColumn("d", abs(col("x") * 2 - col("med2")))
      val mad = dd.groupBy(col("lang"), col("med2"))
        .agg(count(lit(1)).as("n"),
          (median(col("d")) * 2).cast("long").as("mad2"))
      dd.join(broadcast(mad.select(col("lang"), col("n"), col("mad2"))),
          Seq("lang"))
        .groupBy(col("lang"), col("n"), col("med2"), col("mad2"))
        .agg(sum(when(col("d") * 2 > col("mad2") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
        .select(col("lang"), col("n"), col("med2"), col("mad2"),
          col("n_outliers"))
    },

    // ----- n149: label-propagation round (community detection) ----------
    // The near-dup/CC family's community counterpart (Raghavan et al.
    // 2007): over an LSH-bucket-blocked cosine graph (the n5 fixed
    // hyperplanes — candidate generation is an EQUI-join on the bucket,
    // never all-pairs), every node adopts its neighbors' majority label
    // (ties to the smaller), isolated nodes keep their own. One round,
    // agg-shaped argmax (GraphMetrics.labelPropagationStep); the
    // fixpoint iterates under IterationCheckpoint like CC/PageRank.
    QuerySpec(
      "n149_label_prop",
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |             ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bkt
         |           FROM embeddings),
         |e AS (SELECT a.vec_id AS ia, c.vec_id AS ib
         |      FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
         |      WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.3),
         |sym AS (SELECT ia AS src, ib AS dst FROM e
         |        UNION ALL SELECT ib, ia FROM e),
         |nl AS (SELECT sym.dst AS id, b.label AS lbl
         |       FROM sym JOIN b ON b.vec_id = sym.src),
         |c2 AS (SELECT id, lbl, count(*) AS cnt FROM nl GROUP BY 1, 2),
         |w AS (SELECT id, lbl FROM (
         |        SELECT id, lbl, row_number() OVER (PARTITION BY id
         |                 ORDER BY cnt DESC, lbl) AS rn FROM c2)
         |      WHERE rn = 1)
         |SELECT b.vec_id, CAST(b.label AS BIGINT) AS old_label,
         |  CAST(coalesce(w.lbl, b.label) AS BIGINT) AS new_label
         |FROM b LEFT JOIN w ON w.id = b.vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val withBkt = emb.withColumn("graft__bkt",
        Similarity.bucket(col("embedding").cast("array<double>"), annPlanes))
      val pairs = Similarity.blockedNearDupPairs(
        withBkt, "vec_id", "embedding", "graft__bkt", threshold = 0.3)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(
          pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      GraphMetrics.labelPropagationStep(
        emb.select(col("vec_id"), col("label")), "vec_id", "label",
        sym, "src", "dst")
    },

    // ----- n150: hashing-trick featurizer (VW/fastText input side) ------
    // Tokens hash into 64 feature buckets (the portable 60-bit md5
    // hash, so the oracle replays every collision exactly); per-doc
    // sparse counts summarize as nnz / l1 mass / a bucket-weighted
    // checksum that moves if ANY token lands in a different bucket.
    // The hash is applied at the scan, so exchanges carry (doc_id,
    // bucket) pairs — never tokens; two partial-agg levels, map-side
    // combined.
    QuerySpec(
      "n150_feature_hash",
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |h AS (SELECT doc_id,
        |        (('0x' || substr(md5(w), 1, 15))::UBIGINT)::BIGINT % 64 AS b
        |      FROM tk),
        |c AS (SELECT doc_id, b, count(*) AS cnt FROM h GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
        |  CAST(sum(cnt) AS BIGINT) AS l1,
        |  CAST(sum((b + 1) * cnt) AS BIGINT) AS chk
        |FROM c GROUP BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .select(col("doc_id"), (TextOps.hexHash60(col("w")) % 64).as("b"))
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"), sum(col("cnt")).as("l1"),
          sum((col("b") + 1) * col("cnt")).as("chk"))
    },

    // ----- n151: content-defined chunking + block-level dedup -----------
    // The storage-layer dedup primitive (LBFS/FastCDC, Muthitacharoen
    // et al. 2001) at word granularity: chunk boundaries fall after
    // hash-selected tokens, so edited near-duplicates still share
    // every chunk past the first unshifted cut point — the
    // shift-resistance fixed-width chunks (n45) lack. Per source:
    // chunk count, distinct chunks, duplicate occurrences, max reuse.
    // The fold is per-row (TextOps.cdcChunks, zero exchanges); chunks
    // hash to 60-bit longs BEFORE the group-by, so exchanges carry
    // (source, long) pairs — text never shuffles. At 100 TB this is
    // two-level partial aggregation over a map-only chunker.
    QuerySpec(
      "n151_cdc_chunks",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |           FROM documents),
         |p AS (SELECT doc_id, source, ws,
         |        unnest(generate_series(1, len(ws))) AS i
         |      FROM t),
         |w AS (SELECT doc_id, source, i, ws[i] AS w FROM p),
         |b AS (SELECT doc_id, source, i, w,
         |        CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |      FROM w),
         |c AS (SELECT doc_id, source, i, w,
         |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cid
         |      FROM b),
         |ch AS (SELECT source,
         |         ${hex60("string_agg(w, ' ' ORDER BY i)")} AS h
         |       FROM c GROUP BY doc_id, source, cid),
         |g AS (SELECT source, h, CAST(count(*) AS BIGINT) AS cnt
         |      FROM ch GROUP BY 1, 2)
         |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         |  CAST(sum(cnt - 1) AS BIGINT) AS n_dup_chunks,
         |  CAST(max(cnt) AS BIGINT) AS max_chunk_reuse
         |FROM g GROUP BY source""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("source"),
          TextOps.cdcChunks(TextOps.tokens(col("text")), 4)
            .as("graft__chunks"))
        .select(col("source"), explode(col("graft__chunks")).as("graft__c"))
        .select(col("source"), TextOps.hexHash60(col("graft__c")).as("graft__h"))
        .groupBy(col("source"), col("graft__h"))
        .agg(count(lit(1)).as("graft__cnt"))
        .groupBy(col("source"))
        .agg(sum(col("graft__cnt")).as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"),
          sum(col("graft__cnt") - 1).as("n_dup_chunks"),
          max(col("graft__cnt")).as("max_chunk_reuse"))
    },

    // ----- n152: k-core peel rounds (graph density decomposition) -------
    // The dup-graph family's density lens (n136 counts triangles; the
    // k-core strips them down): iteratively remove nodes of degree < k
    // and what remains is the template-family core a dedup audit
    // should inspect first (Batagelj & Zaversnik 2003). Two
    // synchronous peel rounds over the n149 LSH-blocked cosine graph,
    // unrolled in the oracle exactly like n119's PageRank rounds; the
    // fixpoint iterates GraphMetrics.kCorePeelRound under
    // IterationCheckpoint. Exchanges carry (id, count) longs only.
    QuerySpec(
      "n152_kcore_peel",
      s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |             ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bkt
         |           FROM embeddings),
         |e AS (SELECT a.vec_id AS ia, c.vec_id AS ib
         |      FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
         |      WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.3),
         |sym AS (SELECT ia AS src, ib AS dst FROM e
         |        UNION ALL SELECT ib, ia FROM e),
         |d0 AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY 1),
         |n0 AS (SELECT b.vec_id, coalesce(d0.deg, 0) AS deg0
         |       FROM b LEFT JOIN d0 ON d0.id = b.vec_id),
         |a1 AS (SELECT vec_id FROM n0 WHERE deg0 >= 2),
         |e1 AS (SELECT src, dst FROM sym
         |       WHERE src IN (SELECT vec_id FROM a1)
         |         AND dst IN (SELECT vec_id FROM a1)),
         |d1 AS (SELECT src AS id, count(*) AS deg FROM e1 GROUP BY 1)
         |SELECT n0.vec_id, CAST(n0.deg0 AS BIGINT) AS deg0,
         |  n0.deg0 >= 2 AS in_core1,
         |  CAST(coalesce(d1.deg, 0) AS BIGINT) AS deg1,
         |  coalesce(d1.deg, 0) >= 2 AS in_core2
         |FROM n0 LEFT JOIN d1 ON d1.id = n0.vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val withBkt = emb.withColumn("graft__bkt",
        Similarity.bucket(col("embedding").cast("array<double>"), annPlanes))
      val pairs = Similarity.blockedNearDupPairs(
        withBkt, "vec_id", "embedding", "graft__bkt", threshold = 0.3)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(
          pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val nodes = emb.select(col("vec_id"))
      val deg0 = GraphMetrics.degrees(sym, "src")
        .withColumnRenamed("graft__nid", "vec_id")
        .withColumnRenamed("graft__deg", "deg0")
      val n0 = nodes.join(deg0, Seq("vec_id"), "left")
        .withColumn("deg0", coalesce(col("deg0"), lit(0L)))
      val r1 = n0.filter(col("deg0") >= 2).select(col("vec_id"))
      // subgraphDegrees is the reporting half of kCorePeelRound: the
      // peel itself is `deg >= 2` over this relation (in_core2 below).
      val d1 = GraphMetrics.subgraphDegrees(r1, "vec_id", sym, "src", "dst")
        .withColumnRenamed("deg", "deg1")
      n0.join(d1, Seq("vec_id"), "left")
        .select(col("vec_id"), col("deg0"),
          (col("deg0") >= 2).as("in_core1"),
          coalesce(col("deg1"), lit(0L)).as("deg1"),
          (coalesce(col("deg1"), lit(0L)) >= 2).as("in_core2"))
    },

    // ----- n153: video frame sampling (real container decode) -----------
    // The multimodal family's third axis (n17/n126/n128 image, n109/
    // n135 audio): per-doc synthetic clips — luminance a deterministic
    // function of (doc_id, frame, pixel) — ENCODED to real GVID
    // container bytes and DECODED back through VideoCodec's genuine
    // header walk, then every 2nd frame profiled with integer-exact
    // (n_pixels, sum_luma, peak_luma). Frame striding is the video-
    // scale move: decode cost and output rows drop by the stride
    // factor before anything downstream runs. The oracle never parses
    // GVID: it computes the same stats closed-form from the generator
    // formula, so any encode/decode disagreement (header offset,
    // frame-length arithmetic, endianness) surfaces as a value
    // mismatch. Decode runs in mapPartitions; payload bytes never
    // leave the executor.
    QuerySpec(
      "n153_video_frames",
      """WITH p AS (SELECT doc_id, 8 + doc_id % 8 AS w, 8 AS h,
        |             4 + doc_id % 4 AS f
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, f,
        |         unnest(generate_series(0, f - 1, 2)) AS fi
        |       FROM p),
        |px AS (SELECT doc_id, w, h, f, fi,
        |         unnest(generate_series(0, w * h - 1)) AS pp
        |       FROM fr),
        |v AS (SELECT doc_id, f, fi, w * h AS np,
        |        (doc_id * 31 + fi * 101 + pp * 7) % 256 AS x
        |      FROM px)
        |SELECT doc_id, CAST(f AS BIGINT) AS n_frames,
        |  CAST(fi AS BIGINT) AS frame_idx, CAST(np AS BIGINT) AS n_pixels,
        |  CAST(sum(x) AS BIGINT) AS sum_luma,
        |  CAST(max(x) AS BIGINT) AS peak_luma
        |FROM v GROUP BY doc_id, f, fi, np""".stripMargin) { (s, d) =>
      import s.implicits._
      val vids = t(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 8).toInt
          val h = 8
          val f = (4 + id % 4).toInt
          val frames = Array.tabulate(f)(fi =>
            Array.tabulate(w * h)(pp =>
              ((id * 31L + fi.toLong * 101L + pp.toLong * 7L) % 256L).toByte))
          (id, graft.operators.VideoCodec.encode(w, h, frames))
        }).toDF("doc_id", "payload")
      Multimodal.videoFrameStats(vids, "payload", stride = 2)
    },

    // ----- n154: fill-in-the-middle transformation (FIM) ----------------
    // The span-corruption family's code-model sibling (Bavarian et al.
    // 2022): a hash-selected half of the corpus is split at two
    // md5-residue cut points into prefix/middle/suffix and re-emitted
    // in PSM sentinel order; the rest passes through. Everything is a
    // per-row token-array slice — map-only, zero exchanges (plan-
    // pinned); the oracle rebuilds the PSM string with list slicing
    // and matches md5-for-md5, the n144 discipline.
    QuerySpec(
      "n154_fim_split",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |             len(string_split(text, ' ')) AS n, text
         |           FROM documents),
         |sel AS (SELECT doc_id, ws, n, text,
         |          ${hex60("'fim:' || CAST(doc_id AS VARCHAR)")} % 2 = 0
         |            AS do_fim,
         |          ${hex60("'fim_u:' || CAST(doc_id AS VARCHAR)")} % (n + 1)
         |            AS u,
         |          ${hex60("'fim_v:' || CAST(doc_id AS VARCHAR)")} % (n + 1)
         |            AS v
         |        FROM t),
         |cut AS (SELECT doc_id, ws, n, text, do_fim,
         |          least(u, v) AS a, greatest(u, v) AS b
         |        FROM sel)
         |SELECT doc_id,
         |  CASE WHEN do_fim THEN 'fim' ELSE 'plain' END AS mode,
         |  CAST(CASE WHEN do_fim THEN a ELSE 0 END AS BIGINT) AS n_prefix,
         |  CAST(CASE WHEN do_fim THEN b - a ELSE 0 END AS BIGINT) AS n_middle,
         |  CAST(CASE WHEN do_fim THEN n - b ELSE 0 END AS BIGINT) AS n_suffix,
         |  CASE WHEN do_fim THEN md5(array_to_string(
         |      ['<PRE>'] || ws[1:a] || ['<SUF>'] || ws[b+1:n] ||
         |      ['<MID>'] || ws[a+1:b], ' '))
         |    ELSE md5(text) END AS psm_md5
         |FROM cut""".stripMargin) { (s, d) =>
      val t0 = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          TextOps.tokens(col("text")).as("graft__ws"))
        .withColumn("graft__n", size(col("graft__ws")))
        .withColumn("graft__fim",
          TextOps.hexHash60(concat(lit("fim:"), col("doc_id").cast("string")))
            % 2 === 0)
        .withColumn("graft__u",
          (TextOps.hexHash60(concat(lit("fim_u:"), col("doc_id").cast("string")))
            % (col("graft__n") + 1)).cast("int"))
        .withColumn("graft__v",
          (TextOps.hexHash60(concat(lit("fim_v:"), col("doc_id").cast("string")))
            % (col("graft__n") + 1)).cast("int"))
        .withColumn("graft__a", least(col("graft__u"), col("graft__v")))
        .withColumn("graft__b", greatest(col("graft__u"), col("graft__v")))
      val psm = array_join(
        concat(
          array(lit("<PRE>")), slice(col("graft__ws"), lit(1), col("graft__a")),
          array(lit("<SUF>")),
          slice(col("graft__ws"), col("graft__b") + 1,
            col("graft__n") - col("graft__b")),
          array(lit("<MID>")),
          slice(col("graft__ws"), col("graft__a") + 1,
            col("graft__b") - col("graft__a"))), " ")
      t0.select(col("doc_id"),
        when(col("graft__fim"), "fim").otherwise("plain").as("mode"),
        when(col("graft__fim"), col("graft__a").cast("long")).otherwise(0L)
          .as("n_prefix"),
        when(col("graft__fim"), (col("graft__b") - col("graft__a")).cast("long"))
          .otherwise(0L).as("n_middle"),
        when(col("graft__fim"), (col("graft__n") - col("graft__b")).cast("long"))
          .otherwise(0L).as("n_suffix"),
        when(col("graft__fim"), md5(psm)).otherwise(md5(col("text")))
          .as("psm_md5"))
    },

    // ----- n155: chat-turn flattening (SFT conversation prep) -----------
    // Instruction-tuning data lands as conversation JSON; the prep
    // pipeline parses turns, checks the role protocol and sizes the
    // content. Per doc a deterministic conversation is BUILT, serialized
    // with to_json, and re-parsed with from_json (schema'd
    // array<struct> — Spark's real JSON machinery, the n7 axis); the
    // oracle computes every stat closed-form from the generator and
    // never parses JSON, so any serialize/parse disagreement (quoting,
    // field order, null handling) surfaces as a value mismatch.
    QuerySpec(
      "n155_chat_turns",
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
        |i AS (SELECT doc_id, k, unnest(generate_series(0, k - 1)) AS i
        |      FROM p),
        |c AS (SELECT doc_id, k, i,
        |        len('m' || CAST(doc_id AS VARCHAR) || '_' ||
        |            CAST(i AS VARCHAR)) AS clen
        |      FROM i)
        |SELECT doc_id, CAST(k AS BIGINT) AS n_turns,
        |  CAST(sum(clen) AS BIGINT) AS total_chars,
        |  substr(repeat('ua', CAST(k AS INT)), 1, CAST(k AS INT)) AS role_sig
        |FROM c GROUP BY doc_id, k""".stripMargin) { (s, d) =>
      val conv = t(s, d, "documents")
        .select(col("doc_id"), (lit(2) + col("doc_id") % 3).cast("int").as("graft__k"))
        .withColumn("graft__turns", expr(
          """transform(sequence(0, graft__k - 1), i -> named_struct(
            |  'role', CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
            |  'content', concat('m', CAST(doc_id AS STRING), '_',
            |                    CAST(i AS STRING))))""".stripMargin))
        .withColumn("graft__json", to_json(col("graft__turns")))
      // the real parse: schema'd from_json over the serialized turns
      val parsed = conv.select(col("doc_id"),
        from_json(col("graft__json"),
          org.apache.spark.sql.types.DataTypes.createArrayType(
            org.apache.spark.sql.types.StructType.fromDDL(
              "role STRING, content STRING"))).as("graft__t"))
      parsed.select(col("doc_id"),
        size(col("graft__t")).cast("long").as("n_turns"),
        expr("aggregate(graft__t, 0L, (acc, t) -> acc + length(t.content))")
          .as("total_chars"),
        expr("array_join(transform(graft__t, t -> substring(t.role, 1, 1)), '')")
          .as("role_sig"))
    },

    // ----- n156: watermark late-data accounting (stream admission) ------
    // What the n14/n71/n74 parity family is missing: HOW MUCH the
    // watermark throws away. A deterministic arrival schedule (batches
    // of 500 by event_id; a planted 10% of events straggle one batch
    // late) replays the published-watermark admission rule — a row is
    // dropped iff its window END is at or below the watermark its
    // batch faces (aggregation-state eviction, not raw ts-lateness).
    // EventStreamSpec proves the real watermarked stream drops
    // bit-identically on a boundary fixture (window end == watermark).
    QuerySpec(
      "n156_stream_late_parity",
      s"""WITH a AS (SELECT ts, event_id // 500 +
         |             CASE WHEN ${hex60("'late:' || CAST(event_id AS VARCHAR)")}
         |                    % 10 = 0 THEN 1 ELSE 0 END AS b
         |           FROM events),
         |bm AS (SELECT b, max(epoch_us(ts)) // 1000 AS bmax
         |       FROM a GROUP BY 1),
         |w AS (SELECT b, max(bmax) OVER (ORDER BY b
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |          - 3600000 AS wm
         |      FROM bm),
         |t2 AS (SELECT a.ts, w.wm,
         |         time_bucket(INTERVAL 6 HOUR, CAST(a.ts AS TIMESTAMP)) AS ws
         |       FROM a JOIN w USING (b))
         |SELECT ws AS window_start,
         |  CAST(sum(CASE WHEN wm IS NOT NULL AND
         |    epoch_us(ws + INTERVAL 6 HOUR) // 1000 <= wm
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN wm IS NOT NULL AND
         |    epoch_us(ws + INTERVAL 6 HOUR) // 1000 <= wm
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late
         |FROM t2 GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
        .withColumn("graft__ab", expr("event_id div 500") +
          when(TextOps.hexHash60(
            concat(lit("late:"), col("event_id").cast("string"))) % 10 === 0,
            1L).otherwise(0L))
      EventStream.lateAccountingBatch(ev, "ts", "graft__ab",
        delayMs = 3600000L, width = "6 hours")
    },

    // ----- n157: KMV bottom-k distinct-overlap sketch --------------------
    // Cross-source overlap ("how much of source B is already in A?") at
    // 100 TB can't afford exact distinct sets; HLL can't intersect. The
    // KMV/theta-sketch answer (Bar-Yossef et al. 2002, Beyer et al.
    // 2007): keep the k smallest distinct hashes per side (a NEW
    // mergeable TypedImperativeAggregate, graft_kmv), then estimate
    // union/intersection from the k smallest of the sketch UNION — the
    // values themselves survive aggregation, so set algebra works after
    // the fact. The sketch is a pure function of the distinct hash set
    // (no randomness), so the oracle replays it closed-form (ORDER
    // BY/LIMIT k) and both the sketch AND every derived estimate are
    // bit-identical cross-engine. The exact Jaccard rides along as a
    // proof column from one hash-level agg. Scale shape: two bounded
    // sketch aggs (k longs of state, map-side partials) + one
    // hash-keyed agg; everything after is 1-row broadcast algebra.
    // DV estimator spelled (2^60 div kth)·(k−1) — floor-div first so
    // the product stays in BIGINT range on both engines.
    QuerySpec(
      "n157_kmv_overlap",
      s"""WITH w AS (SELECT CAST(doc_id % 2 AS INT) AS side,
         |             unnest(string_split(text, ' ')) AS w
         |           FROM documents),
         |h AS (SELECT DISTINCT side, ${hex60("'kmv:' || w")} AS h FROM w),
         |ska AS (SELECT list(h ORDER BY h) AS sk FROM
         |         (SELECT h FROM h WHERE side = 0 ORDER BY h LIMIT 64)),
         |skb AS (SELECT list(h ORDER BY h) AS sk FROM
         |         (SELECT h FROM h WHERE side = 1 ORDER BY h LIMIT 64)),
         |ex AS (SELECT
         |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_shared,
         |    CAST(count(*) AS BIGINT) AS n_union
         |  FROM (SELECT h, max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ia,
         |               max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ib
         |        FROM h GROUP BY h)),
         |u AS (SELECT a.sk AS ska, b.sk AS skb,
         |        list_sort(list_distinct(a.sk || b.sk)) AS un
         |      FROM ska a, skb b),
         |kc AS (SELECT ska, skb, un[1:64] AS kl,
         |         CAST(least(len(un), 64) AS BIGINT) AS kk FROM u)
         |SELECT CAST(64 AS BIGINT) AS k,
         |  CAST(len(ska) AS BIGINT) AS n_a,
         |  CAST(len(skb) AS BIGINT) AS n_b,
         |  ska[len(ska)] AS kth_a,
         |  skb[len(skb)] AS kth_b,
         |  CAST((1152921504606846976 // ska[len(ska)]) * (len(ska) - 1)
         |    AS BIGINT) AS dv_a,
         |  CAST((1152921504606846976 // skb[len(skb)]) * (len(skb) - 1)
         |    AS BIGINT) AS dv_b,
         |  kk,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb))
         |    AS BIGINT) AS shared_k,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb)) AS BIGINT)
         |    / kk AS j_est,
         |  ex.n_shared, ex.n_union,
         |  ex.n_shared / ex.n_union AS j_exact
         |FROM kc, ex""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents")
        .select((col("doc_id") % 2).cast("int").as("graft__side"),
          explode(TextOps.tokens(col("text"))).as("graft__w"))
        .select(col("graft__side"),
          TextOps.hexHash60(concat(lit("kmv:"), col("graft__w")))
            .as("graft__h"))
      val sk = toks.groupBy(col("graft__side"))
        .agg(expr("graft_kmv(graft__h, 64)").as("graft__sk"))
      val a = sk.filter(col("graft__side") === 0)
        .select(col("graft__sk").as("graft__ska"))
      val b = sk.filter(col("graft__side") === 1)
        .select(col("graft__sk").as("graft__skb"))
      val ex = toks.groupBy(col("graft__h"))
        .agg(max(when(col("graft__side") === 0, 1).otherwise(0)).as("graft__ia"),
          max(when(col("graft__side") === 1, 1).otherwise(0)).as("graft__ib"))
        .agg(
          sum(when(col("graft__ia") === 1 && col("graft__ib") === 1, 1L)
            .otherwise(0L)).as("n_shared"),
          count(lit(1)).as("n_union"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(ex))
        .withColumn("graft__un",
          array_sort(array_distinct(concat(col("graft__ska"), col("graft__skb")))))
        .withColumn("kk", least(size(col("graft__un")), lit(64)).cast("long"))
        .withColumn("graft__kl", slice(col("graft__un"), 1, 64))
        .withColumn("shared_k",
          size(array_intersect(array_intersect(col("graft__kl"), col("graft__ska")),
            col("graft__skb"))).cast("long"))
        .select(
          lit(64L).as("k"),
          size(col("graft__ska")).cast("long").as("n_a"),
          size(col("graft__skb")).cast("long").as("n_b"),
          element_at(col("graft__ska"), size(col("graft__ska"))).as("kth_a"),
          element_at(col("graft__skb"), size(col("graft__skb"))).as("kth_b"),
          expr("(1152921504606846976L div element_at(graft__ska, size(graft__ska)))" +
            " * cast(size(graft__ska) - 1 as bigint)").as("dv_a"),
          expr("(1152921504606846976L div element_at(graft__skb, size(graft__skb)))" +
            " * cast(size(graft__skb) - 1 as bigint)").as("dv_b"),
          col("kk"),
          col("shared_k"),
          (col("shared_k") / col("kk")).as("j_est"),
          col("n_shared"), col("n_union"),
          (col("n_shared") / col("n_union")).as("j_exact"))
    },

    // ----- n158: grid-blocked radius join (spatial self-join) -----------
    // The reference's stations carry latitude/longitude
    // (create_tables.sql:28, etl.py:64-72) — "which stations sit within
    // R of each other" is the bikeshare-native spatial question. The
    // scalable spelling is grid blocking: snap points to R-sized cells,
    // expand ONE side to its 3×3 cell neighborhood (bounded 9×), and
    // equi-join on the cell key — every true pair shares a neighborhood
    // cell, so the exact d² ≤ R² verify sees only co-located
    // candidates; nothing is all-pairs (cell occupancy is density-
    // bounded, the same argument as the LSH band join). Coordinates are
    // deterministic integer microdegrees from md5 residues and the
    // metric is planar squared distance — exact BIGINT end to end, no
    // trig, no float boundary risk at the R² threshold. Each unordered
    // pair appears exactly once: the expanded side hits the partner's
    // unique home cell via one (dx,dy), and id_a < id_b kills the
    // mirror.
    QuerySpec(
      "n158_radius_join",
      s"""WITH p AS (SELECT c_custkey AS key,
         |    ${hex60("'px:' || CAST(c_custkey AS VARCHAR)")} % 600000 AS x,
         |    ${hex60("'py:' || CAST(c_custkey AS VARCHAR)")} % 500000 AS y
         |  FROM customer),
         |e AS (SELECT key, x, y, x // 10000 + dx.g AS cx, y // 10000 + dy.g AS cy
         |      FROM p, generate_series(-1, 1) dx(g), generate_series(-1, 1) dy(g)),
         |c AS (SELECT key, x, y, x // 10000 AS cx, y // 10000 AS cy FROM p)
         |SELECT e.key AS id_a, c.key AS id_b,
         |  CAST((e.x - c.x) * (e.x - c.x) + (e.y - c.y) * (e.y - c.y)
         |    AS BIGINT) AS d2
         |FROM e JOIN c ON e.cx = c.cx AND e.cy = c.cy AND e.key < c.key
         |WHERE (e.x - c.x) * (e.x - c.x) + (e.y - c.y) * (e.y - c.y)
         |  <= 100000000""".stripMargin) { (s, d) =>
      val pts = t(s, d, "customer").select(
        col("c_custkey").as("key"),
        (TextOps.hexHash60(concat(lit("px:"), col("c_custkey").cast("string")))
          % 600000).as("x"),
        (TextOps.hexHash60(concat(lit("py:"), col("c_custkey").cast("string")))
          % 500000).as("y"))
      val cells = pts
        .withColumn("cx", expr("x div 10000"))
        .withColumn("cy", expr("y div 10000"))
      val expanded = cells
        .select(col("key").as("id_a"), col("x").as("xa"), col("y").as("ya"),
          explode(expr(
            "transform(sequence(0, 8), i -> " +
              "struct(cx + i div 3 - 1 AS cx, cy + i % 3 - 1 AS cy))"))
            .as("graft__c"))
        .select(col("id_a"), col("xa"), col("ya"),
          col("graft__c.cx").as("cx"), col("graft__c.cy").as("cy"))
      expanded
        .join(cells.select(col("key").as("id_b"), col("x").as("xb"),
          col("y").as("yb"), col("cx"), col("cy")), Seq("cx", "cy"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("d2",
          (col("xa") - col("xb")) * (col("xa") - col("xb")) +
            (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .filter(col("d2") <= 100000000L)
        .select(col("id_a"), col("id_b"), col("d2"))
    },

    // ----- n159: exact AUC via the Mann-Whitney rank statistic ----------
    // The quality-classifier chain (n80/n84/n113) reports threshold
    // metrics; ranking quality needs the threshold-free AUC. The
    // all-pairs definition (P[s⁺ > s⁻] + ½P[tie]) is quadratic and the
    // naive rank spelling needs a corpus-wide sort — but grouping by
    // SCORE collapses both: per score-group (pos_s, neg_s), doubled
    // wins = Σ pos_s·(2·cum_neg_below + neg_s), and the cumulative
    // window runs over the score GRID (≤ 50 rows — the n86/n146
    // vocab-sized-window argument), never the corpus. Everything is
    // BIGINT; the final AUC is one exact-integer division, so the
    // gate compares it bit-for-bit. Labels/scores are deterministic
    // plants: label from an md5 residue, score a label-shifted char
    // bucket so the planted AUC is meaningfully > 0.5.
    QuerySpec(
      "n159_auc_exact",
      s"""WITH b AS (SELECT
         |    CASE WHEN ${hex60("'y:' || CAST(doc_id AS VARCHAR)")} % 3 = 0
         |      THEN 1 ELSE 0 END AS y,
         |    n_chars % 41 +
         |    CASE WHEN ${hex60("'y:' || CAST(doc_id AS VARCHAR)")} % 3 = 0
         |      THEN 9 ELSE 0 END AS sc
         |  FROM documents),
         |g AS (SELECT sc, CAST(sum(y) AS BIGINT) AS pos,
         |        CAST(sum(1 - y) AS BIGINT) AS neg
         |      FROM b GROUP BY sc),
         |c AS (SELECT sc, pos, neg,
         |        CAST(coalesce(sum(neg) OVER (ORDER BY sc
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS cneg
         |      FROM g)
         |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         |  CAST(sum(neg) AS BIGINT) AS n_neg,
         |  CAST(sum(pos * (2 * cneg + neg)) AS BIGINT) AS num2,
         |  CAST(sum(pos * (2 * cneg + neg)) AS BIGINT) /
         |    (2 * CAST(sum(pos) AS BIGINT) * CAST(sum(neg) AS BIGINT)) AS auc
         |FROM c""".stripMargin) { (s, d) =>
      val y = when(TextOps.hexHash60(
        concat(lit("y:"), col("doc_id").cast("string"))) % 3 === 0, 1L)
        .otherwise(0L)
      val base = t(s, d, "documents")
        .select(y.as("graft__y"),
          (col("n_chars") % 41 + when(y === 1, 9L).otherwise(0L)).as("graft__sc"))
      val g = base.groupBy(col("graft__sc"))
        .agg(sum(col("graft__y")).as("graft__pos"),
          sum(lit(1L) - col("graft__y")).as("graft__neg"))
      // unpartitioned window over the per-score-bucket aggregate: the
      // score grid is n_chars % 41 (+9) — ≤ 50 rows by construction at
      // any corpus size, so the single-partition sort is constant-sized
      val c = g.withColumn("graft__cneg",
        coalesce(sum(col("graft__neg")).over(
          Window.orderBy(col("graft__sc"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      c.agg(
        sum(col("graft__pos")).as("n_pos"),
        sum(col("graft__neg")).as("n_neg"),
        sum(col("graft__pos") * (col("graft__cneg") * 2 + col("graft__neg")))
          .as("num2"))
        .select(col("n_pos"), col("n_neg"), col("num2"),
          (col("num2") / (col("n_pos") * col("n_neg") * 2)).as("auc"))
    },

    // ----- n160: domain-suffix blocklist filter (crawl hygiene) ---------
    // Every web corpus applies a domain blocklist, and the match rule is
    // SUFFIX-at-label-boundary ("site7.com" must block
    // "cdn.site7.com" but never "notsite7.com"). The scalable spelling
    // is NOT a LIKE-join (a non-equi broadcast nested loop over the
    // corpus): explode each host into its ≤4 label suffixes and
    // equi-join the broadcast blocklist — candidate volume is
    // labels-bounded, the join is hashable, and the corpus side stays
    // map-only. Hosts are synthesized from doc_id residues (the n147
    // generator discipline) with a cdn. subdomain axis so boundary
    // semantics are actually exercised; the oracle replays the same
    // explode/join closed-form.
    QuerySpec(
      "n160_domain_blocklist",
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END || 'site' ||
        |    CAST(doc_id % 40 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END AS host
        |  FROM documents),
        |hosts AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs
        |          FROM d GROUP BY 1),
        |bl AS (SELECT * FROM (VALUES ('site7.com'), ('site13.org'),
        |         ('cdn.site2.com'), ('site4.com'), ('site21.org'))
        |       b(entry)),
        |sfx AS (SELECT host,
        |          array_to_string(labels[i:n], '.') AS suffix
        |        FROM (SELECT host, string_split(host, '.') AS labels,
        |                len(string_split(host, '.')) AS n,
        |                unnest(generate_series(1,
        |                  len(string_split(host, '.')))) AS i
        |              FROM hosts)),
        |m AS (SELECT s.host, min(b.entry) AS rule
        |      FROM sfx s JOIN bl b ON s.suffix = b.entry GROUP BY 1)
        |SELECT h.host, h.n_docs, m.rule IS NOT NULL AS blocked, m.rule
        |FROM hosts h LEFT JOIN m USING (host)""".stripMargin) { (s, d) =>
      import s.implicits._
      val hosts = t(s, d, "documents")
        .select(concat(
          when(col("doc_id") % 3 === 0, "cdn.").otherwise(""),
          lit("site"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 2 === 0, ".com").otherwise(".org")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
      val bl = Seq("site7.com", "site13.org", "cdn.site2.com", "site4.com",
        "site21.org").toDF("entry")
      val sfx = hosts.select(col("host"),
        explode(expr(
          "transform(sequence(1, size(split(host, '[.]'))), i -> " +
            "array_join(slice(split(host, '[.]'), i, " +
            "size(split(host, '[.]')) - i + 1), '.'))")).as("suffix"))
      val m = sfx.join(broadcast(bl), col("suffix") === col("entry"))
        .groupBy(col("host")).agg(min(col("entry")).as("rule"))
      hosts.join(m, Seq("host"), "left")
        .select(col("host"), col("n_docs"),
          col("rule").isNotNull.as("blocked"), col("rule"))
    },

    // ----- n161: boilerplate prefix detection (template stripping) ------
    // Same-template pages share a navigation/header prefix that must be
    // stripped before dedup or quality scoring (the RefinedWeb/CCNet
    // boilerplate pass). The naive group LCP is all-pairs or a
    // sequential fold; the distributed form uses the classic order
    // statistic: the longest common prefix of a SET equals
    // LCP(lexicographic min, lexicographic max) — so the whole corpus
    // reduces with ONE agg-shaped min/max per template group (map-side
    // combinable, exchanges carry 2 strings per group) and the
    // character scan runs once per GROUP, not per doc. Every doc in
    // the group shares ≥ the group LCP by construction, so
    // chars_removed = lcp·n_docs is exact. Boilerplate is planted per
    // host group from doc_id residues; the oracle replays min/max and
    // the same position scan.
    QuerySpec(
      "n161_boilerplate_lcp",
      """WITH d AS (SELECT doc_id % 7 AS g,
        |    'site ' || CAST(doc_id % 7 AS VARCHAR) ||
        |    ' nav menu home about | ' || text AS t
        |  FROM documents),
        |m AS (SELECT g, min(t) AS a, max(t) AS b,
        |        CAST(count(*) AS BIGINT) AS n_docs
        |      FROM d GROUP BY g),
        |pos AS (SELECT g, a, b,
        |          unnest(generate_series(1, least(len(a), len(b)))) AS i
        |        FROM m),
        |mis AS (SELECT g, min(i) - 1 AS lcp FROM pos
        |        WHERE substr(a, i, 1) <> substr(b, i, 1) GROUP BY g),
        |l AS (SELECT m.g, a, n_docs,
        |        CAST(coalesce(mis.lcp, least(len(a), len(b))) AS BIGINT) AS lcp
        |      FROM m LEFT JOIN mis ON m.g = mis.g)
        |SELECT CAST(g AS BIGINT) AS host_group, n_docs, lcp AS lcp_len,
        |  md5(substr(a, 1, CAST(lcp AS INT))) AS boilerplate_md5,
        |  lcp * n_docs AS chars_removed
        |FROM l""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
        .select((col("doc_id") % 7).as("graft__g"),
          concat(lit("site "), (col("doc_id") % 7).cast("string"),
            lit(" nav menu home about | "), col("text")).as("graft__t"))
      val m = docs.groupBy(col("graft__g"))
        .agg(min(col("graft__t")).as("graft__a"),
          max(col("graft__t")).as("graft__b"),
          count(lit(1)).as("n_docs"))
      m.withColumn("graft__lcp", expr(
        """coalesce(
          |  array_position(
          |    transform(sequence(1, least(length(graft__a), length(graft__b))),
          |      i -> substring(graft__a, i, 1) = substring(graft__b, i, 1)),
          |    false) - 1,
          |  least(length(graft__a), length(graft__b)))""".stripMargin))
        .withColumn("graft__lcp",
          when(col("graft__lcp") === -1,
            least(length(col("graft__a")), length(col("graft__b")))
              .cast("long"))
            .otherwise(col("graft__lcp")))
        .select(col("graft__g").cast("long").as("host_group"),
          col("n_docs"),
          col("graft__lcp").as("lcp_len"),
          md5(expr("substring(graft__a, 1, cast(graft__lcp as int))"))
            .as("boilerplate_md5"),
          (col("graft__lcp") * col("n_docs")).as("chars_removed"))
    },

    // ----- n163: MMR diversity re-rank (serving quality) -----------------
    // Top-k by raw cosine returns near-duplicates of each other; the
    // serving fix is Maximal Marginal Relevance (Carbonell & Goldstein
    // 1998): greedily pick results balancing relevance against
    // similarity to what is already picked. Exact-integer MMR over the
    // n130 quantized-cosine grid (λ = 0.7 as 7·rel − 3·maxSim), so the
    // oracle unrolls all four greedy rounds — every argmax is an
    // integer comparison with id tie-breaks, no float-order risk.
    // Corpus work is one broadcast-query scan + TakeOrdered into the
    // 12-candidate pool; the greedy runs on bounded k-row metadata.
    QuerySpec(
      "n163_mmr_rerank",
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 5),
         |c0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
         |        CAST(round(round(list_cosine_similarity(
         |          CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6)
         |          * 1000000) AS BIGINT) AS rel
         |      FROM embeddings WHERE vec_id <> 5
         |      ORDER BY rel DESC, vec_id LIMIT 12),
         |pw AS (SELECT a.id AS ia, b.id AS ib,
         |        CAST(round(round(list_cosine_similarity(a.v, b.v), 6)
         |          * 1000000) AS BIGINT) AS s
         |      FROM c0 a CROSS JOIN c0 b WHERE a.id <> b.id),
         |p1 AS (SELECT id, rel, 7 * rel AS mmr FROM c0
         |       ORDER BY rel DESC, id LIMIT 1),
         |${mmrRoundCte(2)},
         |${mmrRoundCte(3)},
         |${mmrRoundCte(4)}
         |SELECT CAST(1 AS BIGINT) AS rank, id AS doc_id, rel,
         |  CAST(mmr AS BIGINT) AS mmr FROM p1
         |UNION ALL SELECT CAST(2 AS BIGINT), id, rel, CAST(mmr AS BIGINT)
         |  FROM p2
         |UNION ALL SELECT CAST(3 AS BIGINT), id, rel, CAST(mmr AS BIGINT)
         |  FROM p3
         |UNION ALL SELECT CAST(4 AS BIGINT), id, rel, CAST(mmr AS BIGINT)
         |  FROM p4""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.mmrRerank(
        emb.filter(col("vec_id") =!= 5), "vec_id", "embedding",
        emb.filter(col("vec_id") === 5), "embedding",
        kCandidates = 12, kPicks = 4)
    },

    // ----- n164: multi-round label propagation (the trainer loop) -------
    // n149 gates ONE synchronous round; the repo's own standard (n67
    // BPE, n79 k-means, n83 logreg, n119 PageRank) is that every
    // iterative operator also ships its gated TRAINING LOOP. Two
    // synchronous rounds under IterationCheckpoint over the same
    // LSH-blocked cosine graph — edge list persisted once, each round
    // one edge⋈label join + the agg-shaped majority vote, labels exact
    // integers so checkpoint cadence cannot change values. The oracle
    // unrolls both rounds (votes over initial labels, then votes over
    // round-1 labels), including the isolated-node carry at each round.
    QuerySpec(
      "n164_label_prop_train",
      s"""WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |             ${bucketSql("CAST(embedding AS DOUBLE[])")} AS bkt
         |           FROM embeddings),
         |e AS (SELECT a.vec_id AS ia, c.vec_id AS ib
         |      FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
         |      WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.3),
         |sym AS (SELECT ia AS src, ib AS dst FROM e
         |        UNION ALL SELECT ib, ia FROM e),
         |nl1 AS (SELECT sym.dst AS id, b.label AS lbl
         |        FROM sym JOIN b ON b.vec_id = sym.src),
         |c1 AS (SELECT id, lbl, count(*) AS cnt FROM nl1 GROUP BY 1, 2),
         |w1 AS (SELECT id, lbl FROM (
         |         SELECT id, lbl, row_number() OVER (PARTITION BY id
         |                  ORDER BY cnt DESC, lbl) AS rn FROM c1)
         |       WHERE rn = 1),
         |l1 AS (SELECT b.vec_id AS id,
         |         CAST(coalesce(w1.lbl, b.label) AS BIGINT) AS lbl
         |       FROM b LEFT JOIN w1 ON w1.id = b.vec_id),
         |nl2 AS (SELECT sym.dst AS id, l1.lbl
         |        FROM sym JOIN l1 ON l1.id = sym.src),
         |c2 AS (SELECT id, lbl, count(*) AS cnt FROM nl2 GROUP BY 1, 2),
         |w2 AS (SELECT id, lbl FROM (
         |         SELECT id, lbl, row_number() OVER (PARTITION BY id
         |                  ORDER BY cnt DESC, lbl) AS rn FROM c2)
         |       WHERE rn = 1)
         |SELECT b.vec_id, CAST(b.label AS BIGINT) AS old_label,
         |  CAST(coalesce(w2.lbl, l1.lbl) AS BIGINT) AS new_label
         |FROM b JOIN l1 ON l1.id = b.vec_id
         |LEFT JOIN w2 ON w2.id = b.vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val withBkt = emb.withColumn("graft__bkt",
        Similarity.bucket(col("embedding").cast("array<double>"), annPlanes))
      val pairs = Similarity.blockedNearDupPairs(
        withBkt, "vec_id", "embedding", "graft__bkt", threshold = 0.3)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(
          pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      GraphMetrics.labelPropagationTrain(
        emb.select(col("vec_id"), col("label")), "vec_id", "label",
        sym, "src", "dst", rounds = 2)
    },

    // ----- n165: sharded/streaming KMV parity certificate ----------------
    // The n120 recipe applied to the bottom-k sketch: a distributed or
    // streaming distinct-counter maintains PER-SHARD sketches and
    // merges them — and for KMV the merge law is EXACT (bottom-k of a
    // union ≡ trimmed union of bottom-k's), so the certificate is
    // bit-for-bit sketch equality, stronger than the CMS's cell-sum
    // linearity. Proof columns: shard-fold ≡ one-pass global sketch,
    // and the size law |sketch| = min(k, distinct); the k-th minimum
    // and the DV estimate replay closed-form in the oracle.
    QuerySpec(
      "n165_stream_kmv_parity",
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
         |           FROM documents),
         |h AS (SELECT DISTINCT ${hex60("'skmv:' || w")} AS h FROM w),
         |s AS (SELECT h FROM h ORDER BY h LIMIT 64),
         |agg AS (SELECT max(h) AS kth, CAST(count(*) AS BIGINT) AS ksz
         |        FROM s),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM h)
         |SELECT CAST(64 AS BIGINT) AS k, nd.nd AS n_distinct,
         |  agg.kth AS kth_min,
         |  CAST((1152921504606846976 // agg.kth) * (agg.ksz - 1)
         |    AS BIGINT) AS dv_est,
         |  true AS shard_parity, true AS size_law_ok
         |FROM agg, nd""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("graft__w"))
        .select(TextOps.hexHash60(concat(lit("skmv:"), col("graft__w")))
          .as("graft__h"))
        .transform(graft.operators.Materialize.shared)
      val folded = toks
        .withColumn("graft__b", pmod(col("graft__h"), lit(8L)))
        .groupBy(col("graft__b"))
        .agg(expr("graft_kmv(graft__h, 64)").as("graft__sk"))
        .select(explode(col("graft__sk")).as("graft__h2"))
        .agg(expr("graft_kmv(graft__h2, 64)").as("graft__folded"))
      val one = toks.agg(
        expr("graft_kmv(graft__h, 64)").as("graft__one"),
        count_distinct(col("graft__h")).as("n_distinct"))
      one.crossJoin(broadcast(folded)).select(
        lit(64L).as("k"),
        col("n_distinct"),
        element_at(col("graft__one"), size(col("graft__one"))).as("kth_min"),
        expr("(1152921504606846976L div element_at(graft__one, size(graft__one)))" +
          " * cast(size(graft__one) - 1 as bigint)").as("dv_est"),
        (col("graft__folded") === col("graft__one")).as("shard_parity"),
        (size(col("graft__one")).cast("long") ===
          least(col("n_distinct"), lit(64L))).as("size_law_ok"))
    },

    // ----- n166: per-source training influence (data valuation) ---------
    // Which source moves the model most? The leave-one-out answer
    // normally costs K retrainings; at the gradient-step level it is
    // ONE corpus pass, because the n76 quantized gradient is EXACTLY
    // additive over any partition of the rows: per-row terms floor to
    // the 1e-9 BIGINT grid BEFORE summing, so g_total = Σ_s g_s holds
    // bit-for-bit and the leave-source-out step is algebra on the
    // per-source partials — w_loo = w0 − lr·(g_total − g_s)/(n − n_s).
    // The influence (w_loo − w_full per feature) is the one-step
    // influence-function surrogate a curation pipeline ranks sources
    // by (the DoReMi/DSIR adjacent question, answered from gradients
    // instead of losses). Scale shape: one map-only featurization +
    // one source-keyed agg; totals broadcast back onto the k-source
    // relation.
    QuerySpec(
      "n166_source_influence",
      """WITH f AS (
        |  SELECT source,
        |    CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
        |         ELSE CAST(0 AS DOUBLE) END AS y,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.01 AS x1,
        |    CAST(n_chars AS DOUBLE) * 0.001 AS x2
        |  FROM documents),
        |z AS (SELECT source, y, x1, x2,
        |        0.1 - 0.05 * x1 + 0.02 * x2 AS z FROM f),
        |r AS (SELECT source, x1, x2,
        |        (0.5 + z / (2.0 * (1.0 + abs(z)))) - y AS res FROM z),
        |q AS (SELECT source,
        |        CAST(floor(res * 1000000000.0) AS BIGINT) AS gq0,
        |        CAST(floor((res * x1) * 1000000000.0) AS BIGINT) AS gq1,
        |        CAST(floor((res * x2) * 1000000000.0) AS BIGINT) AS gq2
        |      FROM r),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS ns,
        |          CAST(sum(gq0) AS BIGINT) AS s0,
        |          CAST(sum(gq1) AS BIGINT) AS s1,
        |          CAST(sum(gq2) AS BIGINT) AS s2
        |        FROM q GROUP BY source),
        |tot AS (SELECT CAST(sum(ns) AS BIGINT) AS n,
        |          CAST(sum(s0) AS BIGINT) AS g0,
        |          CAST(sum(s1) AS BIGINT) AS g1,
        |          CAST(sum(s2) AS BIGINT) AS g2 FROM per),
        |j AS (SELECT per.*, tot.n, tot.g0, tot.g1, tot.g2 FROM per, tot)
        |SELECT source, feature, ns, gs,
        |  (w0 - 0.1 * ((CAST(gt - gs AS DOUBLE) / 1000000000.0)
        |               / CAST(n - ns AS DOUBLE))) -
        |  (w0 - 0.1 * ((CAST(gt AS DOUBLE) / 1000000000.0)
        |               / CAST(n AS DOUBLE))) AS influence
        |FROM (
        |  SELECT source, ns, n, CAST(0 AS BIGINT) AS feature,
        |         s0 AS gs, g0 AS gt, 0.1 AS w0 FROM j
        |  UNION ALL
        |  SELECT source, ns, n, CAST(1 AS BIGINT), s1, g1, -0.05 FROM j
        |  UNION ALL
        |  SELECT source, ns, n, CAST(2 AS BIGINT), s2, g2, 0.02 FROM j
        |)""".stripMargin) { (s, d) =>
      val f = t(s, d, "documents").select(
        col("source"),
        when(col("lang") === "en", lit(1.0d)).otherwise(lit(0.0d)).as("y"),
        (TextOps.nTokens(col("text")).cast("double") * lit(0.01))
          .as("graft__x1"),
        (col("n_chars").cast("double") * lit(0.001)).as("graft__x2"))
      val r = f
        .withColumn("graft__z",
          lit(0.1) - lit(0.05) * col("graft__x1") +
            lit(0.02) * col("graft__x2"))
        .select(col("source"), col("graft__x1"), col("graft__x2"),
          ((lit(0.5) + col("graft__z") /
            (lit(2.0) * (lit(1.0) + abs(col("graft__z"))))) - col("y"))
            .as("graft__res"))
      val per = r.groupBy(col("source")).agg(
        count(lit(1)).as("ns"),
        sum(floor(col("graft__res") * lit(1000000000.0)).cast("long"))
          .as("graft__s0"),
        sum(floor((col("graft__res") * col("graft__x1")) *
          lit(1000000000.0)).cast("long")).as("graft__s1"),
        sum(floor((col("graft__res") * col("graft__x2")) *
          lit(1000000000.0)).cast("long")).as("graft__s2"))
      val tot = per.agg(
        sum(col("ns")).as("graft__n"),
        sum(col("graft__s0")).as("graft__g0"),
        sum(col("graft__s1")).as("graft__g1"),
        sum(col("graft__s2")).as("graft__g2"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("ns"),
          expr("stack(3, " +
            "0L, graft__s0, graft__g0, 0.1D, " +
            "1L, graft__s1, graft__g1, -0.05D, " +
            "2L, graft__s2, graft__g2, 0.02D)")
            .as(Seq("feature", "gs", "gt", "graft__w0")),
          col("graft__n").as("graft__nn"))
        .select(col("source"), col("feature"), col("ns"), col("gs"),
          ((col("graft__w0") - lit(0.1) *
            (((col("gt") - col("gs")).cast("double") / lit(1000000000.0)) /
              (col("graft__nn") - col("ns")).cast("double"))) -
            (col("graft__w0") - lit(0.1) *
              ((col("gt").cast("double") / lit(1000000000.0)) /
                col("graft__nn").cast("double")))).as("influence"))
    },

    // ----- n167: bot-regularity detection (event hygiene) ----------------
    // Web-corpus event feeds carry automation, and the classic tell is
    // inter-arrival REGULARITY: a scraper fires on a timer, a human
    // doesn't. Per user, whole-second gaps between consecutive events
    // (the cookbook floor-diff), then the exact-integer dispersion
    // disp2 = n·Σg² − (Σg)² and the CV test cv ≤ 0.1 as
    // 100·disp2 ≤ (Σg)² — no floats anywhere. Σg telescopes to the
    // user's time span, so products stay far inside BIGINT. Three
    // metronomic bot users are PLANTED (the n46/s36 discipline) so the
    // flag's true path is exercised at every SF; the per-user window
    // hash-partitions on user_id (no global funnel) and the report is
    // one user-keyed agg filtered to active users.
    QuerySpec(
      "n167_bot_regularity",
      """WITH plant AS (
        |  SELECT 900001 + b AS user_id,
        |    CAST('2024-01-01 00:00:00' AS TIMESTAMP)
        |      + (i * 60 + b * 7) * INTERVAL 1 SECOND AS ts,
        |    CAST(-(b * 100 + i) - 1 AS BIGINT) AS event_id
        |  FROM generate_series(0, 2) t1(b), generate_series(0, 29) t2(i)),
        |allv AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |         FROM events
        |         UNION ALL SELECT user_id, ts, event_id FROM plant),
        |g AS (SELECT user_id,
        |        date_diff('second', lag(ts) OVER w, ts) AS gap
        |      FROM allv
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(count(gap) AS BIGINT) AS n_gaps,
        |        CAST(sum(gap) AS BIGINT) AS span_s,
        |        CAST(sum(gap * gap) AS BIGINT) AS sum_g2
        |      FROM g GROUP BY 1)
        |SELECT user_id, n_events, span_s,
        |  CAST(n_gaps * sum_g2 - span_s * span_s AS BIGINT) AS disp2,
        |  100 * (n_gaps * sum_g2 - span_s * span_s)
        |    <= span_s * span_s AS is_bot
        |FROM a WHERE n_gaps >= 20""".stripMargin) { (s, d) =>
      val bots = s.range(3).select(col("id").as("graft__b"))
        .crossJoin(s.range(30).select(col("id").as("graft__i")))
        .select((lit(900001L) + col("graft__b")).as("user_id"),
          expr("timestampadd(SECOND, cast(graft__i * 60 + graft__b * 7 as int), " +
            "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
          (-(col("graft__b") * 100 + col("graft__i")) - 1).as("event_id"))
      val allv = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .unionByName(bots)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val g = allv.select(col("user_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
          .as("graft__gap"))
      g.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count(col("graft__gap")).as("graft__ng"),
          sum(col("graft__gap")).as("span_s"),
          sum(col("graft__gap") * col("graft__gap")).as("graft__g2"))
        .filter(col("graft__ng") >= 20)
        .select(col("user_id"), col("n_events"), col("span_s"),
          (col("graft__ng") * col("graft__g2") - col("span_s") * col("span_s"))
            .as("disp2"),
          (lit(100L) * (col("graft__ng") * col("graft__g2") -
            col("span_s") * col("span_s")) <=
            col("span_s") * col("span_s")).as("is_bot"))
    },

    // ----- n168: streaming regularity maintenance, batch parity ----------
    // The n167 bot signal as a STREAM: per-user state is one 16-byte
    // (micros, event_id) stamp — O(users), constant in stream length —
    // and each arriving event emits its gap exactly once, including
    // across micro-batch boundaries via the carried stamp. This query
    // gates the batch-fold spelling (three event-time-ordered cuts of
    // the feed, each folded with the carry — the n138 recipe); the
    // oracle computes the report over the WHOLE feed, so fold ≡ whole
    // is proven on the answer. EventStreamSpec drives the real
    // transformWithState processor to the identical gap multiset,
    // within-batch disorder included.
    QuerySpec(
      "n168_stream_regularity_parity",
      """WITH g AS (SELECT user_id,
        |        date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w,
        |                  CAST(ts AS TIMESTAMP)) AS gap
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(count(gap) AS BIGINT) AS n_gaps,
        |        CAST(sum(gap) AS BIGINT) AS span_s,
        |        CAST(sum(gap * gap) AS BIGINT) AS sum_g2
        |      FROM g GROUP BY 1)
        |SELECT user_id, n_events, span_s,
        |  CAST(n_gaps * sum_g2 - span_s * span_s AS BIGINT) AS disp2,
        |  100 * (n_gaps * sum_g2 - span_s * span_s)
        |    <= span_s * span_s AS is_bot
        |FROM a WHERE n_gaps >= 20""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
      val c1 = to_timestamp(lit("2024-01-11 00:00:00"))
      val c2 = to_timestamp(lit("2024-01-21 00:00:00"))
      EventStream.regularityBatchFold(Seq(
        ev.filter(col("ts") < c1),
        ev.filter(col("ts") >= c1 && col("ts") < c2),
        ev.filter(col("ts") >= c2)), minGaps = 20L)
    },

    // ----- s42: content-addressed chunk store (dedup storage layout) ----
    // n151 measures chunk-level duplication; this is the LAYOUT that
    // cashes it in (the LBFS/venti content-addressed store): distinct
    // chunks stored ONCE keyed by their 60-bit hash, per-doc manifests
    // of (pos, chunk_h) — 16 bytes per chunk occurrence — and any doc
    // reconstructs from the store by a manifest⋈store join + ordered
    // rejoin. The gate is the storage layout's whole contract:
    // RECONSTRUCTION IS LOSSLESS, proven md5-for-md5 against the
    // original text (the oracle hashes `documents.text` directly and
    // replays the chunk count; our side round-trips through the two
    // STORED tables). Cut points are content-defined, so shared runs
    // between near-duplicate docs share store rows — the dedup ratio
    // n151 reports is the bytes this layout saves. Reconstruction
    // necessarily shuffles chunk text (it is the rebuild op); the
    // write path hashes chunks before its exchanges.
    QuerySpec(
      "s42_chunk_store",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
         |      FROM t),
         |w AS (SELECT doc_id, i, ws[i] AS w FROM p),
         |b AS (SELECT doc_id, i, w,
         |        CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |      FROM w),
         |c AS (SELECT doc_id, i, w,
         |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cid
         |      FROM b),
         |cnt AS (SELECT doc_id, CAST(count(DISTINCT cid) AS BIGINT)
         |          AS n_chunks
         |        FROM c GROUP BY doc_id)
         |SELECT d.doc_id, cnt.n_chunks, md5(d.text) AS text_md5
         |FROM documents d JOIN cnt USING (doc_id)""".stripMargin) { (s, d) =>
      val path = "target/sinks/s42_chunks"
      graft.operators.ChunkStore.build(
        t(s, d, "documents"), "doc_id", "text", path, maskBits = 4)
      graft.operators.ChunkStore.reconstruct(s, path)
    },

    // ----- s47: chunk-store incremental refresh under retry -------------
    // The s42 layout under CONTINUOUS ingest: build on half the corpus,
    // refresh with the other half — the delta's manifests append and
    // ONLY content-new chunks join the store (edit-sized growth, the
    // n169 claim as a maintained layout) — with the b1 batch retried
    // clean AND replayed commit-less (the n174/n175 fault injection; a
    // duplicated store generation would duplicate every reconstruction
    // row through the manifest⋈store join). The oracle reconstructs
    // every doc from the raw text — refresh∘retry ≡ one-shot build,
    // proven on the lossless-reconstruction contract itself.
    QuerySpec(
      "s47_chunk_refresh",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
         |      FROM t),
         |w AS (SELECT doc_id, i, ws[i] AS w FROM p),
         |b AS (SELECT doc_id, i, w,
         |        CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |      FROM w),
         |c AS (SELECT doc_id, i, w,
         |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cid
         |      FROM b),
         |cnt AS (SELECT doc_id, CAST(count(DISTINCT cid) AS BIGINT)
         |          AS n_chunks
         |        FROM c GROUP BY doc_id)
         |SELECT d.doc_id, cnt.n_chunks, md5(d.text) AS text_md5
         |FROM documents d JOIN cnt USING (doc_id)""".stripMargin) { (s, d) =>
      val path = "target/sinks/s47_chunks"
      val docs = t(s, d, "documents")
      val delta = docs.filter(col("doc_id") % 2 === 1)
      graft.operators.ChunkStore.build(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path,
        maskBits = 4)
      graft.operators.ChunkStore.refresh(
        delta, "doc_id", "text", path, batchId = "b1")
      // clean retry, then a commit-less partial-failure replay
      graft.operators.ChunkStore.refresh(
        delta, "doc_id", "text", path, batchId = "b1")
      graft.operators.LsmLayout.dropCommit(s, path, "b1")
      graft.operators.ChunkStore.refresh(
        delta, "doc_id", "text", path, batchId = "b1")
      graft.operators.ChunkStore.reconstruct(s, path)
    },

    // ----- n169: chunk-level delta transfer (the CAS payoff) -------------
    // Why content-defined cuts (n151/s42) instead of fixed windows: an
    // EDIT should invalidate only the chunks it reseals, so syncing an
    // edited corpus against the store transfers a handful of chunks
    // per doc, not the doc (the rsync/LBFS argument). Every doc gets a
    // deterministic one-token edit (position from an md5 residue); v2
    // is re-chunked and joined against the v1 corpus-wide store hash
    // set — reused occurrences cost nothing, new chunks are the upload.
    // The cut pattern around the edit legitimately shifts (the edited
    // token's hash changes its cut bit) and both engines replay that
    // resealing identically. Exchanges carry (doc, hash) longs; the
    // store side is a distinct-hash relation, never chunk text.
    QuerySpec(
      "n169_chunk_delta",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |ed AS (SELECT doc_id, ws,
         |         1 + ${hex60("'edit:' || CAST(doc_id AS VARCHAR)")}
         |           % len(ws) AS p
         |       FROM t),
         |p2 AS (SELECT doc_id, ws, p,
         |         unnest(generate_series(1, len(ws))) AS i FROM ed),
         |w2 AS (SELECT doc_id, i,
         |         CASE WHEN i = p THEN ws[i] || '_X' ELSE ws[i] END AS w
         |       FROM p2),
         |b2 AS (SELECT doc_id, i, w,
         |         CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |       FROM w2),
         |c2 AS (SELECT doc_id, i, w,
         |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cid
         |       FROM b2),
         |ch2 AS (SELECT doc_id,
         |          ${hex60("string_agg(w, ' ' ORDER BY i)")} AS h
         |        FROM c2 GROUP BY doc_id, cid),
         |p1 AS (SELECT doc_id, ws,
         |         unnest(generate_series(1, len(ws))) AS i FROM t),
         |w1 AS (SELECT doc_id, i, ws[i] AS w FROM p1),
         |b1 AS (SELECT doc_id, i, w,
         |         CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |       FROM w1),
         |c1 AS (SELECT doc_id, i, w,
         |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cid
         |       FROM b1),
         |store AS (SELECT DISTINCT
         |            ${hex60("string_agg(w, ' ' ORDER BY i)")} AS h
         |          FROM c1 GROUP BY doc_id, cid),
         |sset AS (SELECT DISTINCT h FROM store)
         |SELECT ch2.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN sset.h IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_reused,
         |  CAST(sum(CASE WHEN sset.h IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_new
         |FROM ch2 LEFT JOIN sset USING (h)
         |GROUP BY ch2.doc_id""".stripMargin) { (s, d) =>
      val t0 = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .transform(graft.operators.Materialize.shared)
      val v2 = t0
        .withColumn("graft__p",
          (TextOps.hexHash60(concat(lit("edit:"), col("doc_id").cast("string")))
            % size(col("graft__ws")) + 1).cast("int"))
        .select(col("doc_id"), expr(
          "transform(graft__ws, (w, i) -> " +
            "CASE WHEN i + 1 = graft__p THEN concat(w, '_X') ELSE w END)")
          .as("graft__ws2"))
      val ch2 = v2
        .select(col("doc_id"),
          explode(TextOps.cdcChunks(col("graft__ws2"), 4)).as("graft__c"))
        .select(col("doc_id"), TextOps.hexHash60(col("graft__c")).as("graft__h"))
      val store = t0
        .select(explode(TextOps.cdcChunks(col("graft__ws"), 4)).as("graft__c"))
        .select(TextOps.hexHash60(col("graft__c")).as("graft__h"))
        .distinct()
        .withColumn("graft__in", lit(1L))
      ch2.join(store, Seq("graft__h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("graft__in").isNotNull, 1L).otherwise(0L))
            .as("n_reused"),
          sum(when(col("graft__in").isNull, 1L).otherwise(0L)).as("n_new"))
    },

    // ----- s43: time-travel reads on the LSM sketch layout ---------------
    // Snapshot isolation falls out of the generation discipline for
    // free: LSM generations are immutable appends stamped with a
    // generation number, so "the index AS OF generation g" is a filter
    // on the read fold, not a restore — a report pinned to a snapshot
    // keeps answering identically while refreshes land. The gate: after
    // a refresh, overlapMatrix(asOf = 0) must equal the from-scratch
    // answer over the ORIGINAL corpus (the oracle computes exactly
    // that); s41 already proves the un-pinned read sees the union.
    QuerySpec(
      "s43_sketch_time_travel",
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
         |           FROM documents WHERE doc_id % 10 <> 0),
         |h AS (SELECT DISTINCT source, ${hex60("'kmvl:' || w")} AS h FROM w),
         |r AS (SELECT source, h, row_number() OVER (
         |        PARTITION BY source ORDER BY h) AS rn FROM h),
         |sk AS (SELECT source, list(h ORDER BY h) AS sk FROM r
         |       WHERE rn <= 64 GROUP BY source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        a.sk AS ska, b.sk AS skb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |c AS (SELECT source_a, source_b, ska, skb,
         |        list_sort(list_distinct(ska || skb)) AS un FROM p),
         |k2 AS (SELECT source_a, source_b, ska, skb, un[1:64] AS kl,
         |        CAST(least(len(un), 64) AS BIGINT) AS kk FROM c)
         |SELECT source_a, source_b, kk,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb))
         |    AS BIGINT) AS shared_k,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb)) AS BIGINT)
         |    / kk AS j_est
         |FROM k2""".stripMargin) { (s, d) =>
      val path = "target/sinks/s43_kmv"
      val docs = t(s, d, "documents")
      KmvLayout.build(
        docs.filter(col("doc_id") % 10 =!= 0), "source", "doc_id", "text",
        path)
      KmvLayout.refresh(
        docs.filter(col("doc_id") % 10 === 0), "source", "doc_id", "text",
        path, batchId = "b1")
      // the pin SURVIVES a compact (per-row gens are preserved through
      // the fold — the monotone-ordinal contract): the pinned answer
      // below is identical with or without this fold in between
      KmvLayout.compact(s, path)
      KmvLayout.overlapMatrix(s, path, asOf = Some(0L))
    },

    // ----- n170: epoch quota apportionment (largest remainder) ----------
    // A training run assigns an integer number of samples per source
    // that must sum EXACTLY to the budget — floor-rounding proportional
    // shares loses slots and naive rounding overshoots. The largest-
    // remainder method (Hamilton apportionment): floor every share,
    // then give the leftover slots to the largest remainders, ties by
    // source. All BIGINT (products ≤ budget·tokens ≪ 2⁶³); the
    // remainder ranking runs over the SOURCE relation (k rows — the
    // n96/n129 planner discipline); the corpus pass is one token
    // count. Complements n96 (water-fill under caps) and n81
    // (temperature rates): this is the exact integer allocator that
    // turns rates into a sample plan.
    QuerySpec(
      "n170_epoch_quota",
      """WITH c AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS ctot FROM c),
        |q AS (SELECT source, toks,
        |        (1000000 * toks) // ctot AS fl,
        |        (1000000 * toks) % ctot AS rem
        |      FROM c, tot),
        |l AS (SELECT CAST(1000000 - sum(fl) AS BIGINT) AS lft FROM q),
        |r AS (SELECT source, toks, fl,
        |        row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM q)
        |SELECT source, toks,
        |  CAST(fl + CASE WHEN rk <= (SELECT lft FROM l) THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM r""".stripMargin) { (s, d) =>
      val c = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(TextOps.nTokens(col("text")).cast("long")).as("toks"))
      val tot = c.agg(sum(col("toks")).as("graft__ctot"))
      val q = c.crossJoin(broadcast(tot))
        .select(col("source"), col("toks"),
          expr("(1000000L * toks) div graft__ctot").as("graft__fl"),
          ((lit(1000000L) * col("toks")) % col("graft__ctot")).as("graft__rem"))
      val lft = q.agg((lit(1000000L) - sum(col("graft__fl"))).as("graft__lft"))
      // unpartitioned window over the per-SOURCE quota relation — one
      // row per corpus source (dozens), not per document; bounded by
      // the source catalog at any corpus size
      q.withColumn("graft__rk",
        row_number().over(
          Window.orderBy(col("graft__rem").desc, col("source"))))
        .crossJoin(broadcast(lft))
        .select(col("source"), col("toks"),
          (col("graft__fl") +
            when(col("graft__rk") <= col("graft__lft"), 1L).otherwise(0L))
            .as("quota"))
    },

    // ----- n171: data-contract validation suite (dbt-test shape) --------
    // The a1/a2 probes generalized into the standard contract pack a
    // warehouse runs before publishing a table: not-null, key
    // uniqueness, accepted values, range, and referential integrity —
    // each a typed rule with a checked/violation count and a verdict,
    // all evaluated over ONE table scan's worth of aggregates plus one
    // anti-join for the foreign key (dim side broadcast). The range
    // rule is deliberately sized to FAIL on real data (top-of-book
    // order totals exceed it), so the report exercises both verdicts
    // without planting.
    QuerySpec(
      "n171_data_contract",
      """WITH u AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nulls,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS badenum,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice > 200000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS badrange
        |  FROM orders),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS orphans
        |       FROM orders o LEFT JOIN customer c
        |         ON o.o_custkey = c.c_custkey
        |       WHERE c.c_custkey IS NULL)
        |SELECT 'not_null(o_custkey)' AS rule, n AS n_checked,
        |  nulls AS n_violations, nulls = 0 AS passed FROM u
        |UNION ALL SELECT 'unique(o_orderkey)', n, dup, dup = 0 FROM u
        |UNION ALL SELECT 'accepted_values(o_orderstatus)', n, badenum,
        |  badenum = 0 FROM u
        |UNION ALL SELECT 'range(o_totalprice in (0, 200000])', n, badrange,
        |  badrange = 0 FROM u
        |UNION ALL SELECT 'fk(o_custkey -> customer)', n, orphans,
        |  orphans = 0 FROM u, fk""".stripMargin) { (s, d) =>
      val orders = t(s, d, "orders")
      val u = orders.agg(
        count(lit(1)).as("graft__n"),
        (count(lit(1)) - count_distinct(col("o_orderkey"))).as("graft__dup"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("graft__nulls"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
          .otherwise(0L)).as("graft__badenum"),
        sum(when(col("o_totalprice") <= 0 || col("o_totalprice") > 200000,
          1L).otherwise(0L)).as("graft__badrange"))
      val fk = orders
        .join(broadcast(t(s, d, "customer").select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("graft__orphans"))
      u.crossJoin(broadcast(fk))
        .select(expr(
          """stack(5,
            |  'not_null(o_custkey)', graft__nulls,
            |  'unique(o_orderkey)', graft__dup,
            |  'accepted_values(o_orderstatus)', graft__badenum,
            |  'range(o_totalprice in (0, 200000])', graft__badrange,
            |  'fk(o_custkey -> customer)', graft__orphans)"""
            .stripMargin).as(Seq("rule", "n_violations")),
          col("graft__n").as("n_checked"))
        .select(col("rule"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("passed"))
    },

    // ----- n172: histogram earth-mover distance (distribution drift) ----
    // n89 compares token MASSES; a curation gate also needs a
    // DISTRIBUTION distance that sees shape ("everything got 10%
    // longer" moves no single bucket much but shifts the whole mass).
    // For 1-D histograms EMD has a closed form — the L1 distance of
    // cumulative sums — and it stays EXACT in integers by
    // cross-scaling instead of normalizing: per bucket,
    // d = |cum_a·n_b − cum_b·n_a|, and EMD = Σd / (n_a·n_b) is one
    // exact rational at the end. The histogram relation is bounded
    // (length div 10 buckets — the n90 axis), so the cumulative window
    // is bucket-sized; corpus work is one grouped count per side.
    QuerySpec(
      "n172_histogram_emd",
      """WITH b AS (SELECT CAST(doc_id % 2 AS INT) AS side,
        |    len(string_split(text, ' ')) // 10 AS bucket
        |  FROM documents),
        |h AS (SELECT bucket,
        |        CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS ca,
        |        CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS cb
        |      FROM b GROUP BY bucket),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb FROM h),
        |c AS (SELECT bucket, ca, cb,
        |        CAST(sum(ca) OVER (ORDER BY bucket) AS BIGINT) AS cuma,
        |        CAST(sum(cb) OVER (ORDER BY bucket) AS BIGINT) AS cumb
        |      FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_buckets, t.na, t.nb,
        |  CAST(sum(abs(cuma * t.nb - cumb * t.na)) AS BIGINT) AS emd_scaled,
        |  CAST(sum(abs(cuma * t.nb - cumb * t.na)) AS BIGINT)
        |    / (t.na * t.nb) AS emd
        |FROM c, t GROUP BY t.na, t.nb""".stripMargin) { (s, d) =>
      val h = t(s, d, "documents")
        .select((col("doc_id") % 2).cast("int").as("graft__side"),
          expr("size(split(text, ' ')) div 10").as("graft__bucket"))
        .groupBy(col("graft__bucket"))
        .agg(sum(when(col("graft__side") === 0, 1L).otherwise(0L)).as("graft__ca"),
          sum(when(col("graft__side") === 1, 1L).otherwise(0L)).as("graft__cb"))
      val tot = h.agg(sum(col("graft__ca")).as("na"),
        sum(col("graft__cb")).as("nb"))
      val c = h
        // unpartitioned windows over the length HISTOGRAM (one row per
        // tokens-div-10 bucket — bounded by max doc length, not corpus
        // size); both cumulative sums share the one constant-sized sort
        .withColumn("graft__cuma",
          sum(col("graft__ca")).over(Window.orderBy(col("graft__bucket"))))
        .withColumn("graft__cumb",
          sum(col("graft__cb")).over(Window.orderBy(col("graft__bucket"))))
        .crossJoin(broadcast(tot))
      c.groupBy(col("na"), col("nb"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(abs(col("graft__cuma") * col("nb") -
            col("graft__cumb") * col("na"))).as("emd_scaled"))
        .select(col("n_buckets"), col("na"), col("nb"), col("emd_scaled"),
          (col("emd_scaled") / (col("na") * col("nb"))).as("emd"))
    },

    // ----- n173: bucket-cap admission parity (the LAST exemption) --------
    // StreamingNearDup's maxPerBucket path was the one remaining
    // oracle-exempt behavior ("the oracle has no capacity notion") —
    // but the EXEMPT part was never the cap rule, it was the
    // engine-local xxhash band keys no oracle can replay. The
    // processor is key-agnostic, so this gate drives its batch-fold
    // spelling (capAdmissionFold — fresh arrivals pair against stored
    // occupants + earlier same-batch arrivals, then at most
    // (cap − stored) admit per bucket, the rest emit `saturated`)
    // with PORTABLE keys over doc-id-ordered batch cuts. Under those
    // cuts the operational state telescopes to a declarative rule the
    // oracle states with ONE window: a doc is stored iff its global
    // doc-order rank in its bucket ≤ cap; a cross-batch pair emits iff
    // the earlier doc is stored; same-batch pairs always emit.
    // StreamingNearDupSpec proves the REAL transformWithState
    // processor emits the identical event multiset on the same cuts.
    QuerySpec(
      "n173_stream_cap_parity",
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |d AS (SELECT doc_id, CAST(doc_id % 50 AS VARCHAR) AS bucket,
        |        CASE WHEN doc_id < m // 3 THEN 0
        |             WHEN doc_id < (2 * m) // 3 THEN 1 ELSE 2 END AS bt
        |      FROM documents, mx),
        |r AS (SELECT doc_id, bucket, bt,
        |        row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
        |          AS rk
        |      FROM d)
        |SELECT 'pair' AS kind, a.doc_id AS id_a, b.doc_id AS id_b, a.bucket
        |FROM r a JOIN r b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |WHERE a.bt = b.bt OR a.rk <= 5
        |UNION ALL
        |SELECT 'saturated', doc_id, CAST(5 AS BIGINT), bucket
        |FROM r WHERE rk > 5""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"),
        (col("doc_id") % 50).cast("string").as("bucket"))
      val m = docs.agg(max(col("doc_id"))).head().getLong(0)
      StreamingNearDup.capAdmissionFold(Seq(
        docs.filter(col("doc_id") < m / 3),
        docs.filter(col("doc_id") >= m / 3 && col("doc_id") < 2 * m / 3),
        docs.filter(col("doc_id") >= 2 * m / 3))
        .map(_.select(col("bucket"), col("doc_id"))), cap = 5)
    },

    // ----- s41: KMV sketches as warehouse layout (stored overlap index) --
    // The stored-layout discipline (s23/s26/s28/s37) applied to the
    // sketch family: cross-source overlap questions should not
    // re-tokenize the corpus per ask. Bottom-k sketches are k longs per
    // group, pure functions of the distinct hash set, and MERGEABLE —
    // so refresh is exact, not approximate-on-approximate: the delta is
    // sketched alone and appended as an LSM generation, and the read
    // fold re-sketches k·gens stored longs per group. The full 20×20/2
    // overlap matrix is served from sketches only; the oracle computes
    // every sketch and estimate closed-form from the FULL corpus — so
    // the gate proves refresh ≡ rebuild through the served answer (the
    // s30/s40 discipline).
    QuerySpec(
      "s41_sketch_layout",
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
         |           FROM documents),
         |h AS (SELECT DISTINCT source, ${hex60("'kmvl:' || w")} AS h FROM w),
         |r AS (SELECT source, h, row_number() OVER (
         |        PARTITION BY source ORDER BY h) AS rn FROM h),
         |sk AS (SELECT source, list(h ORDER BY h) AS sk FROM r
         |       WHERE rn <= 64 GROUP BY source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        a.sk AS ska, b.sk AS skb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |c AS (SELECT source_a, source_b, ska, skb,
         |        list_sort(list_distinct(ska || skb)) AS un FROM p),
         |k2 AS (SELECT source_a, source_b, ska, skb, un[1:64] AS kl,
         |        CAST(least(len(un), 64) AS BIGINT) AS kk FROM c)
         |SELECT source_a, source_b, kk,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb))
         |    AS BIGINT) AS shared_k,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb)) AS BIGINT)
         |    / kk AS j_est
         |FROM k2""".stripMargin) { (s, d) =>
      val path = "target/sinks/s41_kmv"
      val docs = t(s, d, "documents")
      KmvLayout.build(
        docs.filter(col("doc_id") % 10 =!= 0), "source", "doc_id", "text",
        path)
      KmvLayout.refresh(
        docs.filter(col("doc_id") % 10 === 0), "source", "doc_id", "text",
        path, batchId = "b1")
      KmvLayout.overlapMatrix(s, path)
    },

    // ----- s44: right-to-be-forgotten deletes in the BAND index ---------
    // The s40 GDPR discipline applied to the LSH layout: a forget-set
    // (doc_id % 5 = 1) becomes a tombstone id list that every probe
    // path (band postings AND the signature prefilter) anti-joins —
    // forget-set-sized work, nothing stored rewritten; postings/sigs
    // are per-doc facts, so no stored aggregate needs correcting.
    // The oracle computes the delta×corpus exact Jaccard over the
    // REMAINING corpus — delete ≡ rebuild, proven on the probe answer
    // (BandIndexSpec additionally proves compact() drops the rows
    // physically and serves identically).
    QuerySpec(
      "s44_band_forget",
      s"""WITH $shingleCte,
         |csh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 5 <> 1),
         |cn AS (SELECT doc_id, n FROM shn WHERE doc_id % 5 <> 1),
         |dsh AS (SELECT doc_id + 1000000 AS delta_id, shingle
         |        FROM sh WHERE doc_id % 7 = 3),
         |dn AS (SELECT doc_id + 1000000 AS delta_id, n
         |       FROM shn WHERE doc_id % 7 = 3),
         |i AS (SELECT d.delta_id, csh.doc_id AS corpus_id, count(*) AS i
         |      FROM dsh d JOIN csh USING (shingle) GROUP BY 1, 2)
         |SELECT i.delta_id, i.corpus_id,
         |  CAST(i AS DOUBLE) / (dn.n + cn.n - i) AS jaccard
         |FROM i JOIN dn ON dn.delta_id = i.delta_id
         |      JOIN cn ON cn.doc_id = i.corpus_id
         |WHERE CAST(i AS DOUBLE) / (dn.n + cn.n - i) >= 0.8""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val delta = docs.filter(col("doc_id") % 7 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val path = "target/sinks/s44_band"
        BandIndex.build(docs, "doc_id", "text", path)
        BandIndex.tombstone(
          docs.filter(col("doc_id") % 5 === 1).select("doc_id"),
          "doc_id", path, batchId = "d1")
        BandIndex.probe(
          docs.filter(col("doc_id") % 5 =!= 1), delta,
          "doc_id", "text", path, threshold = 0.8)
    },

    // ----- s45: right-to-be-forgotten deletes in the KMV sketch layout --
    // Sketches are not subtractive — what makes this delete EXACT is
    // the layout's per-doc granularity: a forgotten doc's contribution
    // is its own stored row, anti-joined at serve before the group
    // fold, so the served overlap matrix equals a from-scratch rebuild
    // over the remaining corpus (which is exactly what the oracle
    // computes closed-form). The forget-set (doc_id % 7 = 2) spans
    // both the build batch and the b1 refresh generation.
    QuerySpec(
      "s45_kmv_forget",
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
         |           FROM documents WHERE doc_id % 7 <> 2),
         |h AS (SELECT DISTINCT source, ${hex60("'kmvl:' || w")} AS h FROM w),
         |r AS (SELECT source, h, row_number() OVER (
         |        PARTITION BY source ORDER BY h) AS rn FROM h),
         |sk AS (SELECT source, list(h ORDER BY h) AS sk FROM r
         |       WHERE rn <= 64 GROUP BY source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        a.sk AS ska, b.sk AS skb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |c AS (SELECT source_a, source_b, ska, skb,
         |        list_sort(list_distinct(ska || skb)) AS un FROM p),
         |k2 AS (SELECT source_a, source_b, ska, skb, un[1:64] AS kl,
         |        CAST(least(len(un), 64) AS BIGINT) AS kk FROM c)
         |SELECT source_a, source_b, kk,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb))
         |    AS BIGINT) AS shared_k,
         |  CAST(len(list_intersect(list_intersect(kl, ska), skb)) AS BIGINT)
         |    / kk AS j_est
         |FROM k2""".stripMargin) { (s, d) =>
      val path = "target/sinks/s45_kmv"
      val docs = t(s, d, "documents")
      KmvLayout.build(
        docs.filter(col("doc_id") % 10 =!= 0), "source", "doc_id", "text",
        path)
      KmvLayout.refresh(
        docs.filter(col("doc_id") % 10 === 0), "source", "doc_id", "text",
        path, batchId = "b1")
      KmvLayout.tombstone(
        docs.filter(col("doc_id") % 7 === 2).select("doc_id"),
        "doc_id", path, batchId = "d1")
      KmvLayout.overlapMatrix(s, path)
    },

    // ----- s46: auto-compaction policy under continuous ingest ----------
    // The LSM contract needs a BOUND on generation growth: with
    // compactAfterGenerations = 2, the third refresh sees 3 committed
    // generations and folds them back to one INSIDE the same
    // maintenance call — so a continuous ingest loop never accumulates
    // unbounded generations for the read fold. The policy firing
    // mid-sequence is part of the gate (the require below pins the
    // post-loop generation count to the post-compact shape), and the
    // oracle proves answer invariance: the served idf ranking equals
    // the from-scratch rebuild over the union corpus.
    QuerySpec(
      "s46_lexical_autocompact",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/s46_lex"
        val docs = t(s, d, "documents")
        LexicalIndex.build(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", path, n = 3)
        Seq(1L, 2L, 3L).foreach { r =>
          LexicalIndex.refresh(
            docs.filter(col("doc_id") % 4 === r), "doc_id", "text", path,
            batchId = s"b$r", compactAfterGenerations = 2)
        }
        // the policy must have fired at b2 (3 gens > 2 → fold to 1),
        // leaving base+b3 = 2 generations after the loop
        require(LexicalIndex.generationCount(s, path) == 2,
          "auto-compaction did not fire mid-sequence")
        LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- n174: lexical refresh under at-least-once retry --------------
    // foreachBatch re-delivers a failed micro-batch with the SAME batch
    // id — the failure mode that silently inflated df/postings before
    // generations were batch-keyed. The maintenance loop here replays
    // batch b1 twice: once as a clean retry (the applied record
    // short-circuits) and once as a partial-failure replay (record
    // dropped, so the generation-keyed dynamic overwrite must REPLACE
    // the generation). The oracle computes the serving answer over the
    // union corpus from scratch — refresh∘retry∘replay∘refresh ≡
    // rebuild, proven on the served answer (the n124 discipline under
    // fault injection).
    QuerySpec(
      "n174_refresh_retry",
      s"""WITH RECURSIVE $shingleCte,
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/n174_lex"
        val docs = t(s, d, "documents")
        val b1 = docs.filter(col("doc_id") % 3 === 1)
        LexicalIndex.build(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path, n = 3)
        LexicalIndex.refresh(b1, "doc_id", "text", path, batchId = "b1")
        // clean retry: the record short-circuits
        LexicalIndex.refresh(b1, "doc_id", "text", path, batchId = "b1")
        // partial-failure replay: commit lost, generation must overwrite
        graft.operators.LsmLayout.dropCommit(s, path, "b1")
        LexicalIndex.refresh(b1, "doc_id", "text", path, batchId = "b1")
        LexicalIndex.refresh(
          docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", path,
          batchId = "b2")
        LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- n176: full maintenance interleaving (ingest+delete+compact) --
    // The lifecycle a deployed index actually lives: build → refresh →
    // a GDPR delete landing BETWEEN ingest batches → another refresh
    // whose auto-compaction policy fires with the tombstones still
    // pending (folding them physically mid-loop) → serve. Every
    // generation mechanism composes in one run: positive generations,
    // the negative tombstone generation, the anti-join window between
    // delete and compact, and the fold-under-pending-tombstones path
    // of compact itself. The oracle rebuilds the serving answer from
    // scratch over (union corpus − forget-set) — any mis-ordering or
    // double-count anywhere in the interleaving shifts a BIGINT score.
    QuerySpec(
      "n176_maintenance_interleave",
      s"""WITH RECURSIVE ${shingleCte.replace("FROM documents",
             "FROM documents WHERE NOT (doc_id % 3 <> 2 AND doc_id % 5 = 4)")},
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
         |       WHERE NOT (doc_id % 3 <> 2 AND doc_id % 5 = 4)),
         |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |       FROM sh GROUP BY 1),
         |qw AS (SELECT sh.shingle,
         |         CAST(round(1000000.0 * (CAST(n AS DOUBLE)
         |           / CAST(df AS DOUBLE))) AS BIGINT) AS w
         |       FROM sh JOIN df USING (shingle) CROSS JOIN nd
         |       WHERE sh.doc_id = 3)
         |SELECT sh.doc_id, CAST(sum(w) AS BIGINT) AS score
         |FROM sh JOIN qw USING (shingle)
         |WHERE sh.doc_id <> 3
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/n176_lex"
        val docs = t(s, d, "documents")
        LexicalIndex.build(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path, n = 3)
        LexicalIndex.refresh(
          docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", path,
          batchId = "b1")
        // the delete names only ALREADY-INDEXED docs (the tombstone
        // contract); the %3 == 2 third is still unseen at this point
        LexicalIndex.tombstone(
          docs.filter(col("doc_id") % 3 =!= 2 && col("doc_id") % 5 === 4),
          "doc_id", "text", path, batchId = "d1")
        // generations now: base + b1 + ts-d1 = 3; this refresh makes 4,
        // which trips the threshold and compacts WITH the tombstones
        // pending — the physical-drop-mid-loop path
        LexicalIndex.refresh(
          docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", path,
          batchId = "b2", compactAfterGenerations = 3)
        require(LexicalIndex.generationCount(s, path) == 1,
          "the policy must have compacted the full interleaving")
        LexicalIndex.lexicalTopK(s, path, queryDocId = 3L, k = 10)
    },

    // ----- n177: incremental dedup clusters with stable ids -------------
    // The production question the band index's pairs feed: cluster
    // assignments must stay EQUAL to a from-scratch batch clustering
    // over the union corpus as batches arrive, with ids stable under
    // growth (id = min member doc id — it only changes by genuine
    // merge). ClusterRegistry builds on two thirds of the corpus, then
    // ingests the last third — delta-sized: probe pairs collapse the
    // corpus side to its CLUSTER id, CC runs over the (delta + touched
    // clusters) graph, and merges APPEND re-mapping rows bounded by
    // the absorbed clusters. The ingest is retried clean and replayed
    // commit-less (the n174/n175 fault injection; the probe excludes
    // the batch's own band generation so the replay is deterministic).
    // Oracle: the n30 recursive transitive closure over the FULL
    // corpus's exact-Jaccard pairs, singletons = own id.
    QuerySpec(
      "n177_cluster_registry",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |         FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/n177_registry"
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 3 =!= 2)
        val delta = docs.filter(col("doc_id") % 3 === 2)
        graft.operators.ClusterRegistry.build(
          corpus, "doc_id", "text", path, threshold = 0.8)
        graft.operators.ClusterRegistry.ingest(
          delta, "doc_id", "text", path, batchId = "b1")
        // clean retry, then a commit-less partial-failure replay
        graft.operators.ClusterRegistry.ingest(
          delta, "doc_id", "text", path, batchId = "b1")
        graft.operators.LsmLayout.dropCommit(s, path, "b1")
        graft.operators.ClusterRegistry.ingest(
          delta, "doc_id", "text", path, batchId = "b1")
        graft.operators.ClusterRegistry.assignments(s, path)
    },

    // ----- n175: band-index append under at-least-once retry ------------
    // The same fault injection for the LSH layout: append batch b1 is
    // retried clean AND replayed commit-less; a duplicated signature
    // generation would multiply probe rows through the sig join, so
    // the oracle (exact delta×index Jaccard over corpus ∪ delta1,
    // computed from scratch) catches any duplication in rows, not just
    // values.
    QuerySpec(
      "n175_band_append_retry",
      s"""WITH $shingleCte,
         |ish AS (SELECT doc_id, shingle FROM sh
         |        UNION ALL
         |        SELECT doc_id + 1000000, shingle FROM sh
         |        WHERE doc_id % 7 = 3),
         |inn AS (SELECT doc_id, n FROM shn
         |        UNION ALL
         |        SELECT doc_id + 1000000, n FROM shn WHERE doc_id % 7 = 3),
         |dsh AS (SELECT doc_id + 2000000 AS delta_id, shingle
         |        FROM sh WHERE doc_id % 7 = 5),
         |dn AS (SELECT doc_id + 2000000 AS delta_id, n
         |       FROM shn WHERE doc_id % 7 = 5),
         |i AS (SELECT d.delta_id, ish.doc_id AS corpus_id, count(*) AS i
         |      FROM dsh d JOIN ish USING (shingle) GROUP BY 1, 2)
         |SELECT i.delta_id, i.corpus_id,
         |  CAST(i AS DOUBLE) / (dn.n + inn.n - i) AS jaccard
         |FROM i JOIN dn ON dn.delta_id = i.delta_id
         |      JOIN inn ON inn.doc_id = i.corpus_id
         |WHERE CAST(i AS DOUBLE) / (dn.n + inn.n - i) >= 0.8""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val delta1 = docs.filter(col("doc_id") % 7 === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val delta2 = docs.filter(col("doc_id") % 7 === 5)
          .withColumn("doc_id", col("doc_id") + 2000000L)
        val path = "target/sinks/n175_band"
        BandIndex.build(docs, "doc_id", "text", path)
        BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")
        // clean retry, then a commit-less partial-failure replay
        BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")
        graft.operators.LsmLayout.dropCommit(s, path, "b1")
        BandIndex.append(delta1, "doc_id", "text", path, batchId = "b1")
        BandIndex.probe(
          docs.unionByName(delta1), delta2,
          "doc_id", "text", path, threshold = 0.8)
    },

    // ----- s51: registry auto-compaction under continuous ingest --------
    // The s46 policy applied to the LAST layout that lacked it: the
    // registry's read fold is base + a recent-generation overlay that
    // grows with every ingest and merge until a compact folds it — so
    // the lifecycle gate drives build → three ingests with
    // compactAfterGenerations = 2 (the policy fires mid-sequence,
    // folding assignments AND the internal band index while later
    // batches still land on top) and proves the served assignment
    // equals the from-scratch batch closure over the union corpus.
    // The generation counter restarting on the folded base (gen 0,
    // dir count 1) is part of what this gates: a collision between
    // pre- and post-compact generation numbers would corrupt the
    // latest-wins overlay fold.
    QuerySpec(
      "s51_registry_autocompact",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |         FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/s51_registry"
        val docs = t(s, d, "documents")
        graft.operators.ClusterRegistry.build(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", path,
          threshold = 0.8)
        (1 to 3).foreach { r =>
          graft.operators.ClusterRegistry.ingest(
            docs.filter(col("doc_id") % 4 === r),
            "doc_id", "text", path, batchId = s"b$r",
            compactAfterGenerations = 2)
        }
        // base+b1+b2 = 3 live gens > 2 tripped the policy at b2; b3
        // lands on the freshly-compacted base -> 2 LIVE generations
        // after the loop (physical dirs additionally hold superseded
        // generations until the next compact's GC — the snapshot
        // discipline's one-cycle retention for concurrent readers)
        require(graft.operators.LsmLayout.liveGenerationCount(
          s, path, s"$path/assignments") == 2,
          "registry auto-compaction did not fire mid-sequence")
        graft.operators.ClusterRegistry.assignments(s, path)
    },

    // ----- s52: right-to-be-forgotten deletes in the cluster registry ---
    // The registry stores exactly the per-doc fact a GDPR request
    // targets. forget() tombstones the doc's assignment row AND its
    // band postings/signatures in one call — gone from the fold, the
    // canonical view, and every future ingest's probe immediately;
    // compact drops them physically. The DESIGN DECISION this gates
    // (the stable-id-under-deletion question): ids are retained (a
    // cluster id is an opaque stable token, not necessarily a live
    // member) and established merges are retained (closure evidence
    // is monotone; splitting would need the deleted doc's pair
    // evidence back). The oracle therefore computes the closure over
    // EVERYTHING EVER INGESTED, restricted to survivors, renamed to
    // each group's min surviving member — which is exactly what
    // canonicalAssignments serves; ClusterRegistrySpec's bridge
    // fixture pins the divergence from a from-scratch rebuild where
    // it exists.
    QuerySpec(
      "s52_registry_forget",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |         FROM reach GROUP BY u),
         |asg AS (SELECT d.doc_id,
         |          coalesce(c.component, d.doc_id) AS cid
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |rem AS (SELECT doc_id, cid FROM asg WHERE doc_id % 11 <> 5),
         |canon AS (SELECT cid, min(doc_id) AS canon FROM rem GROUP BY cid)
         |SELECT r.doc_id, CAST(c.canon AS BIGINT) AS cluster_id
         |FROM rem r JOIN canon c USING (cid)""".stripMargin) { (s, d) =>
      val path = "target/sinks/s52_registry"
      val docs = t(s, d, "documents")
      graft.operators.ClusterRegistry.build(
        docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", path,
        threshold = 0.8)
      graft.operators.ClusterRegistry.ingest(
        docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", path, batchId = "b1")
      // the delete spans the build AND ingest generations, and lands
      // AFTER merges it may have contributed to (retained by contract)
      graft.operators.ClusterRegistry.forget(
        docs.filter(col("doc_id") % 11 === 5).select("doc_id"),
        "doc_id", path, batchId = "d1")
      graft.operators.ClusterRegistry.canonicalAssignments(s, path)
    },

    // ----- n178: registry maintenance as the foreachBatch loop ----------
    // n177 gates ONE ingest with fault injection; this is the batch
    // spelling of the DEPLOYED shape — a multi-micro-batch foreachBatch
    // loop (build on the first batch, ingest each next, corpus ledger
    // growing batch by batch) with a commit-less replay of the
    // IN-FLIGHT batch mid-stream (foreachBatch retries the current
    // micro-batch; both the registry record and the band record of
    // the batch are lost, so the replay re-derives the generation number, re-probes
    // with its own partial band generation excluded, and the dynamic
    // overwrite replaces both layouts' generations). The oracle is the
    // batch closure over the union corpus — stream-shaped maintenance
    // must be invisible in the answer; ClusterRegistrySpec drives the
    // SAME loop through a real MemoryStream/foreachBatch query.
    QuerySpec(
      "n178_stream_registry_parity",
      s"""WITH RECURSIVE $shingleCte,
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |         FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/n178_registry"
        val docs = t(s, d, "documents")
        // four micro-batches: build on the first, ingest the next
        // three with the replay landing MID-stream (after mb-2 a
        // later batch still arrives, so the replayed generation is
        // probed and folded by subsequent maintenance — everything
        // the five-batch spelling gated, one redundant ingest cheaper)
        graft.operators.ClusterRegistry.build(
          docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", path,
          threshold = 0.8)
        (1 to 3).foreach { r =>
          graft.operators.ClusterRegistry.ingest(
            docs.filter(col("doc_id") % 4 === r),
            "doc_id", "text", path, batchId = s"mb-$r")
          if (r == 2) {
            // the in-flight micro-batch fails AFTER its writes but
            // BEFORE its commits — foreachBatch re-delivers it whole
            graft.operators.LsmLayout.dropCommit(s, path, "mb-2")
            graft.operators.LsmLayout.dropCommit(s, s"$path/band", "mb-2")
            graft.operators.ClusterRegistry.ingest(
              docs.filter(col("doc_id") % 4 === 2),
              "doc_id", "text", path, batchId = "mb-2")
          }
        }
        graft.operators.ClusterRegistry.assignments(s, path)
    },

    // ----- s53: chunk-store forget + edited re-sync + refcount compact --
    // The full CAS lifecycle in one gate: build over the corpus, an
    // edited third re-synced under EXISTING ids (the n169 deterministic
    // one-token edit — last-writer-wins manifests), a GDPR forget-set,
    // then compact's REFCOUNT SWEEP (chunks are shared, so per-doc
    // deletes can't drop store rows eagerly; the sweep keeps a chunk
    // only if a surviving latest manifest references it — reclaiming
    // forgotten docs' unique chunks AND the dead chunks superseded
    // edit manifests left behind). The oracle reconstructs the
    // EFFECTIVE surviving corpus closed-form (edits applied, forgotten
    // docs excluded) — any bug in the manifest fold, the tombstone
    // visibility, or the sweep's refcounting garbles an md5 or a chunk
    // count. ChunkStoreSpec additionally pins the physical drops.
    QuerySpec(
      "s53_chunk_forget",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |ed AS (SELECT doc_id, ws,
         |         1 + ${hex60("'edit:' || CAST(doc_id AS VARCHAR)")}
         |           % len(ws) AS p
         |       FROM t),
         |p2 AS (SELECT doc_id, ws, p,
         |         unnest(generate_series(1, len(ws))) AS i FROM ed),
         |w2 AS (SELECT doc_id, i,
         |         CASE WHEN doc_id % 5 = 0 AND i = p
         |           THEN ws[i] || '_X' ELSE ws[i] END AS w
         |       FROM p2),
         |b AS (SELECT doc_id, i, w,
         |        CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |      FROM w2),
         |c AS (SELECT doc_id, i, w,
         |        coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cid
         |      FROM b),
         |cnt AS (SELECT doc_id, CAST(count(DISTINCT cid) AS BIGINT)
         |          AS n_chunks
         |        FROM c GROUP BY doc_id),
         |txt AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS text
         |        FROM w2 GROUP BY doc_id)
         |SELECT txt.doc_id, cnt.n_chunks, md5(txt.text) AS text_md5
         |FROM txt JOIN cnt USING (doc_id)
         |WHERE txt.doc_id % 9 <> 4""".stripMargin) { (s, d) =>
      val path = "target/sinks/s53_chunks"
      val docs = t(s, d, "documents")
      graft.operators.ChunkStore.build(
        docs, "doc_id", "text", path, maskBits = 4)
      // the edited re-sync under EXISTING ids (the n169 edit applied)
      val v2 = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
        .withColumn("graft__p",
          (TextOps.hexHash60(concat(lit("edit:"), col("doc_id").cast("string")))
            % size(col("graft__ws")) + 1).cast("int"))
        .select(col("doc_id"), expr(
          "array_join(transform(graft__ws, (w, i) -> " +
            "CASE WHEN i + 1 = graft__p THEN concat(w, '_X') ELSE w END)" +
            ", ' ')").as("text"))
      graft.operators.ChunkStore.refresh(
        v2, "doc_id", "text", path, batchId = "b1")
      graft.operators.ChunkStore.tombstone(
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"),
        "doc_id", path, batchId = "d1")
      graft.operators.ChunkStore.compact(s, path)
      graft.operators.ChunkStore.reconstruct(s, path)
    },

    // ----- s54: time-travel reads on the cluster registry ---------------
    // The s43 snapshot-isolation discipline on the registry: LSM
    // generations are immutable appends stamped with a monotone
    // number, so "cluster state as of ingest g" — including exactly
    // the merges batch g caused and none later — is a filter on the
    // read fold, not a restore. The audit question this serves:
    // "which cluster was this doc in BEFORE yesterday's batch merged
    // it?" — the provenance read a dedup-keyed training run pins its
    // manifest to. Build + two ingests; the pinned read at gen 1 must
    // equal the batch closure over (build ∪ first ingest), while s51
    // already proves the unpinned read sees everything.
    QuerySpec(
      "s54_registry_time_travel",
      s"""WITH RECURSIVE ${shingleCte.replace("FROM documents",
             "FROM documents WHERE doc_id % 3 < 2")},
         |${jaccardPairsCte(0.8)},
         |edges AS (SELECT id_a AS u, id_b AS v FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         |         FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |WHERE d.doc_id % 3 < 2""".stripMargin) { (s, d) =>
      val path = "target/sinks/s54_registry"
      val docs = t(s, d, "documents")
      graft.operators.ClusterRegistry.build(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", path,
        threshold = 0.8)
      graft.operators.ClusterRegistry.ingest(
        docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", path, batchId = "b1")
      graft.operators.ClusterRegistry.ingest(
        docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", path, batchId = "b2")
      graft.operators.ClusterRegistry.assignments(s, path, asOf = Some(1L))
    },

    // ----- n179: dead-chunk accounting (the compact-decision report) ----
    // s53 proves compact's refcount sweep reclaims correctly; this is
    // the number an operator reads to decide WHEN compacting pays:
    // live store rows (referenced by a surviving latest manifest) vs
    // dead rows (orphaned by superseded edit manifests or tombstoned
    // docs), plus the reclaimable characters. Run BEFORE any compact —
    // the report must see through pending tombstones and superseded
    // manifests. The oracle replays the whole state closed-form: the
    // store is v1 chunks ∪ the edit batch's content-new chunks; the
    // live set is the EFFECTIVE surviving corpus's chunks (edits
    // applied, forgotten docs out); dead = store − live, char-exact.
    QuerySpec(
      "n179_dead_chunks",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |ed AS (SELECT doc_id, ws,
         |         1 + ${hex60("'edit:' || CAST(doc_id AS VARCHAR)")}
         |           % len(ws) AS p
         |       FROM t),
         |p2 AS (SELECT doc_id, ws, p,
         |         unnest(generate_series(1, len(ws))) AS i FROM ed),
         |wo AS (SELECT doc_id, i, ws[i] AS w FROM p2),
         |we AS (SELECT doc_id, i,
         |         CASE WHEN doc_id % 5 = 0 AND i = p
         |           THEN ws[i] || '_X' ELSE ws[i] END AS w
         |       FROM p2),
         |bo AS (SELECT doc_id, i, w,
         |         CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |       FROM wo),
         |co AS (SELECT doc_id, i, w,
         |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cid
         |       FROM bo),
         |cho AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS chunk
         |        FROM co GROUP BY doc_id, cid),
         |be AS (SELECT doc_id, i, w,
         |         CASE WHEN ${hex60("w")} % 4 = 0 THEN 1 ELSE 0 END AS cut
         |       FROM we),
         |ce AS (SELECT doc_id, i, w,
         |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS cid
         |       FROM be),
         |che AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS chunk
         |        FROM ce GROUP BY doc_id, cid),
         |store AS (SELECT chunk FROM cho
         |          UNION
         |          SELECT chunk FROM che WHERE doc_id % 5 = 0),
         |refs AS (SELECT DISTINCT chunk FROM che WHERE doc_id % 9 <> 4)
         |SELECT
         |  CAST(sum(CASE WHEN r.chunk IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_live,
         |  CAST(sum(CASE WHEN r.chunk IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dead,
         |  CAST(coalesce(sum(CASE WHEN r.chunk IS NULL
         |    THEN length(s.chunk) END), 0) AS BIGINT) AS dead_chars
         |FROM store s LEFT JOIN refs r USING (chunk)""".stripMargin) {
      (s, d) =>
        val path = "target/sinks/n179_chunks"
        val docs = t(s, d, "documents")
        graft.operators.ChunkStore.build(
          docs, "doc_id", "text", path, maskBits = 4)
        val v2 = docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("graft__ws"))
          .withColumn("graft__p",
            (TextOps.hexHash60(concat(lit("edit:"),
              col("doc_id").cast("string")))
              % size(col("graft__ws")) + 1).cast("int"))
          .select(col("doc_id"), expr(
            "array_join(transform(graft__ws, (w, i) -> " +
              "CASE WHEN i + 1 = graft__p THEN concat(w, '_X') ELSE w END)" +
              ", ' ')").as("text"))
        graft.operators.ChunkStore.refresh(
          v2, "doc_id", "text", path, batchId = "b1")
        graft.operators.ChunkStore.tombstone(
          docs.filter(col("doc_id") % 9 === 4).select("doc_id"),
          "doc_id", path, batchId = "d1")
        graft.operators.ChunkStore.deadChunkStats(s, path)
    },

    // ----- s55: ONE-CALL corpus-level GDPR forget across six layouts ----
    // A deletion request names user data, not layouts: a deployment
    // indexing one corpus six ways (registry, band, lexical, KMV, IVF,
    // chunk store) must forget the doc EVERYWHERE — forgetting five of
    // six silently retains it in the sixth, the failure mode no
    // per-layout oracle can see. CorpusLifecycle.forget fans one id
    // set + one batch id out to all six, idempotent under partial
    // failure (every layout forget is marker-gated). The drive: build
    // all six, then simulate a coordinator CRASH mid-fan-out (band and
    // lexical applied their tombstones; the rest never ran), retry the
    // coordinator (completes four, no-ops two), replay it (no-ops
    // six), then corpus-compact (physical reclamation; snapshot-atomic
    // per layout). The audit relation is computed from the REAL
    // serving paths — registry fold, band signatures, lexical
    // postings, KMV group fold, IVF vectors, chunk reconstruction —
    // so any layout still serving a forgotten doc (or double-serving
    // after a bad compact) breaks the row. The oracle replays the
    // surviving populations closed-form: docs (registry/kmv/chunks),
    // docs with >= 3 tokens (band/lexical — shingle-width gate), and
    // vectors whose ids escaped the doc-keyed forget-set (ivf).
    QuerySpec(
      "s55_corpus_forget",
      s"""SELECT 'band' AS layout, CAST(0 AS BIGINT) AS forgotten_served,
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 3 <> 0
         |     AND len(string_split(text, ' ')) >= 3 AND doc_id % 11 <> 5)
         |  AS survivors
         |UNION ALL
         |SELECT 'chunks', CAST(0 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 3 <> 0 AND doc_id % 11 <> 5)
         |UNION ALL
         |SELECT 'ivf', CAST(0 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
         |   WHERE vec_id % 3 <> 0 AND vec_id NOT IN
         |     (SELECT doc_id FROM documents WHERE doc_id % 11 = 5))
         |UNION ALL
         |SELECT 'kmv', CAST(0 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 3 <> 0 AND doc_id % 11 <> 5)
         |UNION ALL
         |SELECT 'lexical', CAST(0 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 3 <> 0
         |     AND len(string_split(text, ' ')) >= 3 AND doc_id % 11 <> 5)
         |UNION ALL
         |SELECT 'registry', CAST(0 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 3 <> 0 AND doc_id % 11 <> 5)""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s55_corpus"
      // the standing corpus is the shared fixture's base slice (the
      // builds are priced once, in s56 — see CorpusFixture); the op
      // under test here is the forget fan-out, its crash-replay, the
      // corpus compact and the audit, all on the cloned tree
      val docs = t(s, d, "documents").filter(col("doc_id") % 3 =!= 0)
      val lay = CorpusFixture.cloneBase(s, d, root)
      val forget = docs.filter(col("doc_id") % 11 === 5)
      // the coordinator "crashed" after two layouts committed ...
      BandIndex.tombstone(forget.select("doc_id"), "doc_id",
        s"$root/band", batchId = "g1")
      LexicalIndex.tombstone(forget, "doc_id", "text",
        s"$root/lexical", batchId = "g1")
      // ... the retry completes the other four and no-ops those two;
      // the replay no-ops all six
      CorpusLifecycle.forget(forget, "doc_id", "text", lay, batchId = "g1")
      CorpusLifecycle.forget(forget, "doc_id", "text", lay, batchId = "g1")
      // physical reclamation across the corpus must not change serving
      CorpusLifecycle.compact(s, lay)
      CorpusLifecycle.forgetAudit(s, lay, forget.select("doc_id"), "doc_id")
        .orderBy(col("layout"))
    },

    // ----- s56: ONE-CALL corpus-level delta ingest across six layouts --
    // The forward twin of s55: a new batch must land in EVERY layout a
    // deployment keeps — a hand-rolled fan-out that crashes after five
    // of six leaves the sixth silently MISSING the docs, and every
    // probe of that layout under-serves forever. CorpusLifecycle.ingest
    // takes one delta + one batch id and fans it out, idempotent under
    // partial failure (every per-layout ingest is marker-gated). The
    // drive: build all six on the doc_id%3!=0 base slice, simulate a
    // coordinator CRASH mid-fan-out (band and lexical committed the
    // batch; the other four never ran), retry the coordinator
    // (completes four, no-ops two), replay it (no-ops six). The audit
    // is computed from the REAL serving paths; the oracle replays the
    // populations closed-form: all docs (registry/kmv/chunks), docs
    // with >= 3 tokens (band/lexical — the shingle-width gate), and
    // the embeddings split by the same id residue (ivf: vec_ids are a
    // subset of doc ids in the fixture, so the delta id set covers
    // every ingested vector).
    QuerySpec(
      "s56_corpus_ingest",
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
        |           FROM documents)
        |SELECT 'band' AS layout,
        |  CAST((SELECT count(*) FROM d WHERE n >= 3 AND doc_id % 3 = 0)
        |    AS BIGINT) AS delta_served,
        |  CAST((SELECT count(*) FROM d WHERE n >= 3) AS BIGINT)
        |    AS survivors
        |UNION ALL
        |SELECT 'chunks',
        |  CAST((SELECT count(*) FROM d WHERE doc_id % 3 = 0) AS BIGINT),
        |  CAST((SELECT count(*) FROM d) AS BIGINT)
        |UNION ALL
        |SELECT 'ivf',
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 3 = 0)
        |    AS BIGINT),
        |  CAST((SELECT count(*) FROM embeddings) AS BIGINT)
        |UNION ALL
        |SELECT 'kmv',
        |  CAST((SELECT count(*) FROM d WHERE doc_id % 3 = 0) AS BIGINT),
        |  CAST((SELECT count(*) FROM d) AS BIGINT)
        |UNION ALL
        |SELECT 'lexical',
        |  CAST((SELECT count(*) FROM d WHERE n >= 3 AND doc_id % 3 = 0)
        |    AS BIGINT),
        |  CAST((SELECT count(*) FROM d WHERE n >= 3) AS BIGINT)
        |UNION ALL
        |SELECT 'registry',
        |  CAST((SELECT count(*) FROM d WHERE doc_id % 3 = 0) AS BIGINT),
        |  CAST((SELECT count(*) FROM d) AS BIGINT)""".stripMargin) {
      (s, d) =>
        import graft.operators._
        val root = "target/sinks/s56_corpus"
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val delta = docs.filter(col("doc_id") % 3 === 0)
          .withColumn("g", col("doc_id"))
        val deltaVecs = emb.filter(col("vec_id") % 3 === 0)
        // THE pricing oracle for the shared fixture: the six base-slice
        // builds run fresh here every time (rebuild = true), so the
        // build cost the other coordination oracles clone away stays
        // visible in exactly one benchmark number
        val lay = CorpusFixture.cloneBase(s, d, root, rebuild = true)
        // the coordinator "crashed" after two layouts committed ...
        BandIndex.append(delta, "doc_id", "text", s"$root/band",
          batchId = "b1")
        LexicalIndex.refresh(delta, "doc_id", "text", s"$root/lexical",
          batchId = "b1")
        // ... the retry completes the other four and no-ops those two;
        // the replay no-ops all six
        // delta-only: the registry rehydrates candidate text from its
        // own stored ledger — no caller-assembled corpus argument
        CorpusLifecycle.ingest(delta, "doc_id", "text", lay,
          batchId = "b1", groupCol = Some("g"),
          deltaVectors = Some((deltaVecs, "vec_id", "embedding")))
        CorpusLifecycle.ingest(delta, "doc_id", "text", lay,
          batchId = "b1", groupCol = Some("g"),
          deltaVectors = Some((deltaVecs, "vec_id", "embedding")))
        CorpusLifecycle.ingestAudit(
          s, lay, delta.select("doc_id"), "doc_id")
          .orderBy(col("layout"))
    },

    // ----- s57: IVF re-centroiding (quantizer maintenance) --------------
    // The one lifecycle op the maintained-ANN family still lacked:
    // refresh/forget/compact all assign with the STORED centroids, so
    // the quantizer drifts as the corpus grows and forgets — hot cells
    // grow without bound and probes over-read. retrain polishes the
    // quantizer with deterministic exact-integer Lloyd rounds (KMeans)
    // over the live vectors, reassigns every survivor, and swaps
    // (vectors, centroids) in under ONE snapshot flip — a reader never
    // sees a quantizer/assignment mismatch (IvfLayoutSpec pins the
    // pairing, the post-retrain partition pruning, and that retrain
    // subsumes a compact). The oracle gates the data contract the
    // rewrite must preserve: build on 90%, refresh 10%, forget
    // vec_id%5=1, retrain, then a FULL-probe serve — exact cosine
    // top-k over exactly the survivors; a vector lost, duplicated, or
    // resurrected by the rewrite breaks the ranking.
    QuerySpec(
      "s57_ivf_retrain",
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 2)
        |SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT qv FROM q)), 6) AS sim
        |FROM embeddings
        |WHERE vec_id % 5 <> 1 AND vec_id <> 2
        |ORDER BY sim DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
      val path = "target/sinks/s57_ivf"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      graft.operators.IvfLayout.build(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        path, cents)
      graft.operators.IvfLayout.refresh(
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        path, batchId = "b1")
      graft.operators.IvfLayout.tombstone(
        emb.filter(col("vec_id") % 5 === 1).select("vec_id"),
        "vec_id", path, batchId = "d1")
      graft.operators.IvfLayout.retrain(s, path, rounds = 3)
      val qv = emb.filter(col("vec_id") === 2)
        .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0)
      graft.operators.IvfLayout.topK(
        s, path, qv, nprobe = cents.size, k = 15, excludeId = Some(2L))
    },

    // ----- s58: IVF cell-occupancy report (the retrain decision) --------
    // The deadChunkStats pattern on the ANN side: per-cell occupancy of
    // the live index with exact shares, computed AFTER a forget — hot
    // cells mean probes over-read, emptied cells (reported as n=0, not
    // dropped) mean nlist is oversized for the surviving corpus; this
    // relation is what an operator reads to decide WHEN the
    // corpus-sized s57 retrain pays. The oracle replays the assignment
    // closed-form with the same hyperplane constants (equal-norm
    // centroids: argmin L2 ≡ argmax dot) over the surviving vectors
    // and densifies the full cell range so dead cells compare too.
    QuerySpec(
      "s58_ivf_cell_stats",
      s"""WITH c AS (SELECT vec_id,
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings WHERE vec_id % 7 <> 2),
         |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
         |      FROM c GROUP BY cell),
         |cells AS (SELECT unnest(generate_series(0, 3)) AS cell),
         |j AS (SELECT CAST(cells.cell AS BIGINT) AS cell,
         |        coalesce(g.n, 0) AS n_vecs
         |      FROM cells LEFT JOIN g ON cells.cell = g.cell)
         |SELECT cell, n_vecs,
         |  CAST(n_vecs AS DOUBLE) / (SELECT CAST(sum(n_vecs) AS DOUBLE)
         |                            FROM j) AS share
         |FROM j ORDER BY cell""".stripMargin) { (s, d) =>
      val path = "target/sinks/s58_ivf"
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      graft.operators.IvfLayout.build(emb, "vec_id", "embedding", path, cents)
      graft.operators.IvfLayout.tombstone(
        emb.filter(col("vec_id") % 7 === 2).select("vec_id"),
        "vec_id", path, batchId = "d1")
      graft.operators.IvfLayout.cellStats(s, path)
    },

    // ----- s59: policy-driven corpus maintenance (the decision gate) ----
    // The coordinator trilogy's last member under the DuckDB gate:
    // maintain reads each layout's own report and runs exactly the
    // maintenance it needs, returning the decision relation as the
    // nightly audit trail. The drive fixes the state closed-form:
    // build six layouts on the 2/3 slice, corpus-ingest the rest (so
    // every generation count is exactly 2), then maintain with a
    // 1-generation budget — the five count-ruled layouts decide
    // 'compact' at value 2.0 (the chunk store's dead share is 0 after
    // a pure-append ingest, so it falls through to the count rule),
    // and the IVF layout decides 'retrain' because its max cell share
    // (replayed closed-form by the oracle over the same hyperplane
    // constants) exceeds the 0.2 level — with 4 cells the max share
    // is >= 0.25 by pigeonhole. The actions RUN inside the timed body
    // (compacts + retrain); a wrong decision, a wrong metric, or a
    // drifted share breaks the row.
    QuerySpec(
      "s59_corpus_maintain",
      s"""WITH c AS (SELECT
         |        ${ivfRankSql("CAST(embedding AS DOUBLE[])")}[1].i AS cell
         |      FROM embeddings),
         |g AS (SELECT cell, count(*) AS n FROM c GROUP BY cell),
         |mx AS (SELECT max(CAST(n AS DOUBLE) /
         |         (SELECT CAST(count(*) AS DOUBLE) FROM c)) AS m FROM g)
         |SELECT 'band' AS layout, 'live_generations' AS metric,
         |  CAST(2.0 AS DOUBLE) AS value, CAST(1.0 AS DOUBLE) AS threshold,
         |  'compact' AS action
         |UNION ALL SELECT 'chunks', 'live_generations', 2.0, 1.0, 'compact'
         |UNION ALL SELECT 'ivf', 'max_cell_share',
         |  (SELECT m FROM mx), 0.2, 'retrain'
         |UNION ALL SELECT 'kmv', 'live_generations', 2.0, 1.0, 'compact'
         |UNION ALL SELECT 'lexical', 'live_generations', 2.0, 1.0, 'compact'
         |UNION ALL SELECT 'registry', 'live_generations', 2.0, 1.0,
         |  'compact'""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s59_corpus"
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val delta = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("g", col("doc_id"))
      // cloned fixture (builds priced in s56); the ops under test —
      // the coordinated ingest and the observe→decide→act maintenance
      // pass with its compacts and retrain — run on the copy
      val lay = CorpusFixture.cloneBase(s, d, root)
      CorpusLifecycle.ingest(delta, "doc_id", "text", lay,
        batchId = "b1", groupCol = Some("g"),
        deltaVectors = Some((emb.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding")))
      CorpusLifecycle.maintain(s, lay,
        CorpusLifecycle.MaintenancePolicy(
          maxLiveGenerations = 1, maxChunkDeadShare = 0.9,
          maxIvfCellShare = 0.2, ivfRetrainRounds = 2))
        .orderBy(col("layout"))
    },

    // ----- s60: cross-layout population-drift audit ---------------------
    // forgetAudit/ingestAudit prove ONE batch landed (or left)
    // everywhere; nothing compared the layouts' FULL served
    // populations — a layout that under-serves from a pre-coordinator
    // bug or a missed historical batch stays invisible until a
    // per-batch audit happens to cover the hole.
    // CorpusLifecycle.consistencyAudit compares each layout's whole
    // served doc population against the registry's (token gates from
    // the registry's own stored ledger; the IVF row is extra-only —
    // vector coverage is not derivable from a text corpus). The drive:
    // build six layouts on the 2/3 slice, then replay the HISTORICAL
    // failure — a hand-rolled fan-out that ingested the delta into
    // five layouts and skipped lexical. The audit must report exactly
    // that hole (delta docs meeting the lexical shingle gate) and
    // green-zero everywhere else; the oracle replays the hole
    // closed-form.
    QuerySpec(
      "s60_corpus_consistency",
      """SELECT 'band' AS layout, CAST(0 AS BIGINT) AS missing,
        |  CAST(0 AS BIGINT) AS extra
        |UNION ALL SELECT 'chunks', 0, 0
        |UNION ALL SELECT 'ivf', 0, 0
        |UNION ALL SELECT 'kmv', 0, 0
        |UNION ALL SELECT 'lexical',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE len(string_split(text, ' ')) >= 3 AND doc_id % 3 = 0),
        |  0
        |UNION ALL SELECT 'registry', 0, 0""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s60_corpus"
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val delta = docs.filter(col("doc_id") % 3 === 0)
      // cloned fixture (builds priced in s56); the drive below is the
      // HISTORICAL hand-rolled fan-out the audit exists to catch
      val lay = CorpusFixture.cloneBase(s, d, root)
      // the historical hand-rolled fan-out: five layouts got the
      // batch, lexical never did — no per-batch audit ran back then.
      // (The five calls are the coordinator-less shape under test;
      // they are pairwise independent, so they overlap — the audited
      // state is identical either way.)
      Overlap.all(s)(
        () => ClusterRegistry.ingest(delta, "doc_id", "text",
          s"$root/registry", batchId = "b1"),
        () => BandIndex.append(delta, "doc_id", "text", s"$root/band",
          batchId = "b1"),
        () => KmvLayout.refresh(delta.withColumn("g", col("doc_id")),
          "g", "doc_id", "text", s"$root/kmv", batchId = "b1"),
        () => IvfLayout.refresh(emb.filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", s"$root/ivf", batchId = "b1"),
        () => ChunkStore.refresh(delta, "doc_id", "text", s"$root/chunks",
          batchId = "b1"))
      CorpusLifecycle.consistencyAudit(s, lay).orderBy(col("layout"))
    },

    // ----- s61: dead-mass maintenance triggers (data-aware policy) ------
    // s59's count/share rules left the band/lexical/KMV families
    // deciding on generation COUNT alone — a forget-heavy layout with
    // ONE generation (half its docs tombstoned, every probe still
    // scanning and anti-joining the dead postings) never triggered.
    // Each family now publishes deadRowStats (the deadChunkStats
    // pattern: live vs pending-tombstoned rows physically present) and
    // MaintenancePolicy carries per-family dead-share thresholds. The
    // drive builds the three families in exactly that state — one
    // generation, doc_id%2=0 forgotten — and maintains with an
    // unreachable generation budget: all three must decide 'compact'
    // via dead_row_share, with the share replayed closed-form (band
    // postings are bands-per-doc uniform → the gated doc ratio;
    // lexical postings weight each doc by its distinct-gram count; KMV
    // sketch rows are one per doc). The compacts RUN in the timed body.
    QuerySpec(
      "s61_dead_mass_policy",
      s"""WITH ${shingleCte.replace("FROM documents",
             "FROM documents WHERE doc_id % 3 <> 0")},
         |m AS (SELECT
         |    CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS DOUBLE) /
         |      CAST(count(*) AS DOUBLE) AS band_share,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n ELSE 0 END)
         |        AS DOUBLE) /
         |      CAST(sum(n) AS DOUBLE) AS lex_share
         |  FROM shn),
         |k AS (SELECT
         |    CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS DOUBLE) /
         |      CAST(count(*) AS DOUBLE) AS kmv_share
         |  FROM documents WHERE doc_id % 3 <> 0)
         |SELECT 'band' AS layout, 'dead_row_share' AS metric,
         |  (SELECT band_share FROM m) AS value,
         |  CAST(0.3 AS DOUBLE) AS threshold, 'compact' AS action
         |UNION ALL SELECT 'kmv', 'dead_row_share',
         |  (SELECT kmv_share FROM k), 0.3, 'compact'
         |UNION ALL SELECT 'lexical', 'dead_row_share',
         |  (SELECT lex_share FROM m), 0.3, 'compact'""".stripMargin) {
      (s, d) =>
        import graft.operators._
        val root = "target/sinks/s61_corpus"
        // the fixture's base slice IS the corpus here (builds priced
        // in s56); only the three posting/sketch families are
        // configured — the dead-share rules under test
        val docs = t(s, d, "documents").filter(col("doc_id") % 3 =!= 0)
        CorpusFixture.cloneBase(s, d, root)
        val lay = CorpusLifecycle.CorpusLayouts(
          band = Some(s"$root/band"), lexical = Some(s"$root/lexical"),
          kmv = Some(s"$root/kmv"))
        // the state the count rule cannot see: ONE generation each,
        // half the corpus tombstoned
        CorpusLifecycle.forget(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", lay, batchId = "g1")
        CorpusLifecycle.maintain(s, lay,
          CorpusLifecycle.MaintenancePolicy(maxLiveGenerations = 8))
          .orderBy(col("layout"))
    },

    // ----- s62: corpus-level time travel (the s43/s54 pins, fanned) -----
    // The registry and the KMV layout keep generation-stamped immutable
    // history; coordinated ingest keeps their generation numbers
    // ALIGNED by construction (both count committed generations from 0,
    // and the coordinator delivers every batch to every layout), so
    // "the corpus as of ingest g" is ONE pin across layouts.
    // CorpusLifecycle.asOfAudit serves the per-layout populations at
    // the pin and now — the drift report read before replaying a
    // pipeline against pinned state. GDPR reaches pins (the s43 rule):
    // the drive forgets a slice AFTER both ingests and the pinned
    // populations must exclude it. The oracle replays both counts
    // closed-form.
    QuerySpec(
      "s62_corpus_time_travel",
      """SELECT 'kmv' AS layout,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 1
        |     AND doc_id % 3 <> 0 AND doc_id % 7 <> 3) AS served_asof,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3) AS served_now
        |UNION ALL
        |SELECT 'registry',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 1
        |     AND doc_id % 3 <> 0 AND doc_id % 7 <> 3),
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3)""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s62_corpus"
      // the odd-doc corpus slice (the coordination-oracle pricing
      // convention): the pins, the generation alignment and the
      // post-ingest forget reaching them are slice-invariant — the
      // plans and fan-out are identical, the DuckDB twin stays
      // closed-form, and the two full registry ingests stop re-pricing
      // corpus volume the other oracles already price
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 1)
      val lay = CorpusLifecycle.CorpusLayouts(
        registry = Some(s"$root/registry"), kmv = Some(s"$root/kmv"))
      val a = docs.filter(col("doc_id") % 3 === 1)
      // two independent builds on disjoint paths — overlap them
      Overlap.all(s)(
        () => ClusterRegistry.build(a, "doc_id", "text", s"$root/registry"),
        () => KmvLayout.build(a.withColumn("g", col("doc_id")),
          "g", "doc_id", "text", s"$root/kmv", k = 32))
      def g(df: DataFrame) = df.withColumn("g", col("doc_id"))
      CorpusLifecycle.ingest(g(docs.filter(col("doc_id") % 3 === 2)),
        "doc_id", "text", lay, batchId = "b1", groupCol = Some("g"))
      CorpusLifecycle.ingest(g(docs.filter(col("doc_id") % 3 === 0)),
        "doc_id", "text", lay, batchId = "b2", groupCol = Some("g"))
      // the delete lands AFTER both ingests and must reach the pin
      CorpusLifecycle.forget(docs.filter(col("doc_id") % 7 === 3),
        "doc_id", "text", lay, batchId = "g1")
      CorpusLifecycle.asOfAudit(s, lay, gen = 1L).orderBy(col("layout"))
    },

    // ----- s63: registry/ledger dead-mass maintenance trigger -----------
    // s61 made band/lexical/KMV data-aware; the registry still decided
    // on generation count alone — a forget-heavy ONE-generation
    // registry carries dead assignment rows AND dead ledger text
    // (anti-joined by every read, scanned by every rehydration past
    // the byte gate) with nothing to trip the policy. The registry
    // branch of maintain now tries ClusterRegistry.deadRowStats before
    // the count rule; the drive builds exactly the invisible state —
    // one generation, half the corpus tombstoned — and maintains with
    // an unreachable generation budget: the decision must be 'compact'
    // via dead_row_share (replayed closed-form: assignments are one
    // row per doc), and the compact RUNS in the timed body, folding
    // the tombstones through the assignment log AND the stored ledger
    // text (the pending-tombstone rule forces the ledger fold).
    QuerySpec(
      "s63_registry_dead_mass",
      """SELECT 'registry' AS layout, 'dead_row_share' AS metric,
        |  (SELECT CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END)
        |       AS DOUBLE) /
        |     CAST(count(*) AS DOUBLE)
        |   FROM documents WHERE doc_id % 3 = 1) AS value,
        |  CAST(0.3 AS DOUBLE) AS threshold,
        |  'compact' AS action""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s63_registry"
      val docs = t(s, d, "documents").filter(col("doc_id") % 3 === 1)
      val lay = CorpusLifecycle.CorpusLayouts(
        registry = Some(s"$root/registry"))
      ClusterRegistry.build(docs, "doc_id", "text", s"$root/registry")
      CorpusLifecycle.forget(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", lay, batchId = "g1")
      CorpusLifecycle.maintain(s, lay,
        CorpusLifecycle.MaintenancePolicy(maxLiveGenerations = 8))
        .orderBy(col("layout"))
    },

    // ----- s64: consistency audit against an EXTERNAL anchor ------------
    // s60's audit compares every layout against the registry's own
    // served population — a doc lost from the registry AND every other
    // layout (a bad coordinated forget, a corrupted base) is invisible
    // because the reference itself shrank. consistencyAudit now takes
    // an optional EXPECTED population (the coordinator's ingest audit
    // trail, an upstream manifest); the drive runs exactly the blind-
    // spot scenario — a coordinated forget that should never have
    // happened — and audits against the full base manifest: the loss
    // surfaces as `missing` on the registry row (once — the gated
    // rows coalesce the lost docs' unknown token counts to 0, so no
    // phantom expectations are fabricated for band/lexical/kmv/chunks),
    // and every other row must green-zero. Oracle closed-form.
    QuerySpec(
      "s64_consistency_anchor",
      """SELECT 'band' AS layout, CAST(0 AS BIGINT) AS missing,
        |  CAST(0 AS BIGINT) AS extra
        |UNION ALL SELECT 'chunks', 0, 0
        |UNION ALL SELECT 'ivf', 0, 0
        |UNION ALL SELECT 'kmv', 0, 0
        |UNION ALL SELECT 'lexical', 0, 0
        |UNION ALL SELECT 'registry',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1),
        |  0""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s64_corpus"
      val base = t(s, d, "documents").filter(col("doc_id") % 3 =!= 0)
      val lay = CorpusFixture.cloneBase(s, d, root)
      // the BAD coordinated forget — every layout drops the slice, so
      // the self-referential audit of s60 would green-zero here
      CorpusLifecycle.forget(base.filter(col("doc_id") % 7 === 1),
        "doc_id", "text", lay, batchId = "g1")
      CorpusLifecycle.consistencyAudit(s, lay,
        expected = Some((base.select("doc_id"), "doc_id")))
        .orderBy(col("layout"))
    },

    // ----- s65: chunk-store time travel + pin alignment under -----------
    // ----- INDEPENDENT maintenance ---------------------------------------
    // s62 pinned the registry+KMV populations; the chunk store could
    // not join — its seq restarted at every compact, so a pin across a
    // fold boundary was ambiguous (the round-15 deferral note). With
    // every layout deriving generation numbers through the shared
    // metadata-monotone ingest ordinal, the chunk store serves pins
    // MEMBERSHIP-EXACTLY across compacts — and the alignment claim
    // survives the harder case this drive exercises: a compact of ONE
    // layout between coordinated ingests (what maintain() does daily),
    // which under restart numbering would silently renumber that
    // layout's later generations while its siblings kept counting.
    // GDPR reaches pins (the s43 rule): the forget lands after both
    // ingests and must hide its docs at the pin too. Even-doc slice
    // (the coordination-oracle pricing convention; s62 prices the odd
    // half). Twin closed-form.
    QuerySpec(
      "s65_chunk_time_travel",
      """SELECT 'chunks' AS layout,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0
        |     AND doc_id % 3 <> 0 AND doc_id % 7 <> 5) AS served_asof,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0 AND doc_id % 7 <> 5) AS served_now
        |UNION ALL
        |SELECT 'kmv',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0
        |     AND doc_id % 3 <> 0 AND doc_id % 7 <> 5),
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0 AND doc_id % 7 <> 5)""".stripMargin) { (s, d) =>
      import graft.operators._
      val root = "target/sinks/s65_corpus"
      val docs = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
      val lay = CorpusLifecycle.CorpusLayouts(
        kmv = Some(s"$root/kmv"), chunks = Some(s"$root/chunks"))
      def g(df: DataFrame) = df.withColumn("g", col("doc_id"))
      val a = docs.filter(col("doc_id") % 3 === 1)
      // two independent builds on disjoint paths — overlap them
      Overlap.all(s)(
        () => KmvLayout.build(g(a), "g", "doc_id", "text", s"$root/kmv",
          k = 32),
        () => ChunkStore.build(a, "doc_id", "text", s"$root/chunks"))
      CorpusLifecycle.ingest(g(docs.filter(col("doc_id") % 3 === 2)),
        "doc_id", "text", lay, batchId = "b1", groupCol = Some("g"))
      // INDEPENDENT maintenance mid-history: only the chunk store
      // folds — the pin below must stay aligned with KMV's regardless
      ChunkStore.compact(s, s"$root/chunks")
      CorpusLifecycle.ingest(g(docs.filter(col("doc_id") % 3 === 0)),
        "doc_id", "text", lay, batchId = "b2", groupCol = Some("g"))
      // the delete lands AFTER both ingests and must reach the pin
      CorpusLifecycle.forget(docs.filter(col("doc_id") % 7 === 5),
        "doc_id", "text", lay, batchId = "g1")
      CorpusLifecycle.asOfAudit(s, lay, gen = 1L).orderBy(col("layout"))
    },

    // ----- s66: history-retention vacuum on the chunk store -------------
    // The r15-deferred retention-window op (unblocked by the
    // metadata-monotone ordinals): "keep version history from
    // generation g on" as a PHYSICAL operation — the generalized
    // compact that collapses only versions older than the retention
    // floor and keeps every newer version VERBATIM, so in-window asOf
    // pins stay VERSION-exact while pre-floor edit history (and the
    // store chunks only it referenced, via the same refcount sweep)
    // leaves disk. Drive: build (v1, seq 0) → edit re-sync of the %5
    // slice (v2, seq 1) → edit re-sync of the %7 slice (v3, seq 2) → a
    // GDPR forget (%11 = 3) → retentionVacuum(keepFrom = 1). The
    // require pins the physical drop (no doc holds 3 versions
    // anymore — pre-vacuum the %35 slice did); the oracle proves the
    // serve contract closed-form: the pin at g = 1 reconstructs v2/v1
    // exactly and NOW reconstructs v3/v2/v1, both minus the forget-set
    // (GDPR outranks retention like it outranks time travel).
    QuerySpec(
      "s66_chunk_retention",
      """SELECT 'asof' AS pin, doc_id,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' r2'
        |           ELSE text END) AS text_md5
        |FROM documents WHERE doc_id % 11 <> 3
        |UNION ALL
        |SELECT 'now', doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' r3'
        |           WHEN doc_id % 5 = 0 THEN text || ' r2'
        |           ELSE text END)
        |FROM documents WHERE doc_id % 11 <> 3""".stripMargin) { (s, d) =>
      import graft.operators._
      val path = "target/sinks/s66_chunks"
      val docs = t(s, d, "documents")
      ChunkStore.build(docs, "doc_id", "text", path)
      ChunkStore.refresh(docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" r2"))),
        "doc_id", "text", path, batchId = "b1")
      ChunkStore.refresh(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" r3"))),
        "doc_id", "text", path, batchId = "b2")
      ChunkStore.tombstone(
        docs.filter(col("doc_id") % 11 === 3).select("doc_id"),
        "doc_id", path, batchId = "g1")
      ChunkStore.retentionVacuum(s, path, keepFrom = 1L)
      // the vacuum's physical teeth: the twice-edited %35 slice held
      // three manifest versions; the pre-floor one must be GONE from
      // the new base (not merely out-served)
      require(s.read.parquet(s"$path/manifest")
        .filter(col("gen") === LsmLayout.snapshot(s, path).base)
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("seq")).as("graft__v"))
        .agg(max(col("graft__v"))).head().getLong(0) == 2L,
        "retention vacuum did not drop the pre-floor versions")
      ChunkStore.reconstruct(s, path, asOf = Some(1L))
        .select(lit("asof").as("pin"), col("doc_id"), col("text_md5"))
        .unionByName(ChunkStore.reconstruct(s, path)
          .select(lit("now").as("pin"), col("doc_id"), col("text_md5")))
    })
}
