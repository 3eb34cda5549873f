package graft.operators

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean, throws}

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.quality.QualityChecks

/** ScalaCheck invariants (SURVEY.md §5.2): laws the reference only
  * enforced in production, plus determinism laws for the stubbed /
  * derived components. Spark-backed properties run few cases (each case
  * is a job); pure properties run the default 100. */
object EngineLawsProps extends Properties("EngineLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private val spark = TestSpark.spark
  import spark.implicits._

  // --- pure laws ------------------------------------------------------

  property("hashFeatures fallback is deterministic and dim-exact") =
    forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte)), Gen.choose(1, 32)) {
      (bytes, dim) =>
        val a = Multimodal.hashFeatures(bytes.toArray, dim)
        val b = Multimodal.hashFeatures(bytes.toArray, dim)
        a.toSeq == b.toSeq && a.length == dim
    }

  property("image decode->downsample->encode round-trips dims for any factor") =
    forAll(Gen.choose(1, 10), Gen.choose(1, 10), Gen.choose(1, 4)) { (w, h, f) =>
      val px = Array.tabulate(w * h * 3)(i => (i * 37 % 256).toByte)
      val img = ImageCodec.RawImage(w, h, px)
      val out = ImageCodec.decode(ImageCodec.encodePpm(ImageCodec.downsample(img, f))).get
      val viaBmp = ImageCodec.decode(ImageCodec.encodeBmp24(img)).get
      out.width == (w + f - 1) / f && out.height == (h + f - 1) / f &&
        viaBmp.pixels.toSeq == px.toSeq
    }

  property("hyperplanes are ±1, deterministic, shape-exact") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 64)) { (n, d) =>
      val p = Similarity.hyperplanes(n, d)
      p == Similarity.hyperplanes(n, d) &&
        p.length == n && p.forall(_.length == d) &&
        p.flatten.forall(x => x == 1 || x == -1)
    }

  property("scrubPii leaves no pattern match and is idempotent") = {
    val word = Gen.oneOf("alpha", "beta", "kappa42", "x.y-z")
    val piiGen = Gen.oneOf(
      Gen.const("bob.smith+a@mail-host.example.org"),
      Gen.const("555-12345"),
      word)
    forAll(Gen.listOf(piiGen)) { parts =>
      val s = parts.mkString(" ")
      // driver-side twin of the column expression — same Java regexes
      def scrub(x: String) = x
        .replaceAll(TextOps.EmailPattern, "<EMAIL>")
        .replaceAll(TextOps.PhonePattern, "<PHONE>")
      val once = scrub(s)
      !TextOps.EmailPattern.r.findFirstIn(once).isDefined &&
        !TextOps.PhonePattern.r.findFirstIn(once).isDefined &&
        scrub(once) == once
    }
  }

  property("chunk starts cover every token; overlap is size-stride") =
    forAll(Gen.choose(1, 500)) { n =>
      val (size, stride) = (32, 24)
      val starts = 0 to ((n - 1) / stride) map (_ * stride)
      val covered = starts.flatMap(s => s until math.min(s + size, n)).toSet
      covered == (0 until n).toSet &&
        starts.forall(_ < n) && // no empty chunk
        // consecutive chunks overlap by size-stride except a short tail
        starts.sliding(2).forall {
          case Seq(a, b) => b - a == stride
          case _ => true
        }
    }

  // --- sketch-buffer laws (pure JVM: update/merge/eval on raw buffers,
  // no Spark jobs — these are the partial-aggregation contracts Spark
  // relies on when it splits the input across tasks at any boundary) --

  private def inputRow(h: Long) =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](h))
  private val longRef = org.apache.spark.sql.catalyst.expressions
    .BoundReference(0, org.apache.spark.sql.types.LongType, nullable = true)

  property("CMS: split-update-merge == one-pass; every row sums to N") =
    forAll(Gen.listOf(Gen.choose(0L, 1000L)), Gen.choose(0, 100)) { (xs, c) =>
      val agg = graft.functions.CountMinSketchAgg(longRef, 3, 64)
      val cut = if (xs.isEmpty) 0 else c % (xs.length + 1)
      val (a, b) = xs.splitAt(cut)
      def build(vs: Seq[Long]) =
        vs.foldLeft(agg.createAggregationBuffer())((buf, x) => agg.update(buf, inputRow(x)))
      val merged = agg.merge(build(a), build(b))
      val once = build(xs)
      merged.sameElements(once) &&
        (0 until 3).forall(j => merged.slice(j * 64, (j + 1) * 64).sum == xs.length)
    }

  property("bloom: split-update-merge == one-pass; members always probe true") =
    forAll(Gen.listOf(Gen.choose(0L, 1L << 40)), Gen.choose(0, 100)) { (xs, c) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val agg = graft.functions.BloomFilterAgg(longRef, 512, 4)
      val cut = if (xs.isEmpty) 0 else c % (xs.length + 1)
      val (a, b) = xs.splitAt(cut)
      def build(vs: Seq[Long]) =
        vs.foldLeft(agg.createAggregationBuffer())((buf, x) => agg.update(buf, inputRow(x)))
      val merged = agg.merge(build(a), build(b))
      val once = build(xs)
      val words = Literal.create(once.toSeq, ArrayType(LongType, containsNull = false))
      merged.sameElements(once) && xs.forall { x =>
        graft.functions.BloomMightContain(words, Literal(x), 512, 4)
          .eval(null) == true
      }
    }

  // --- Spark-backed laws (few, fast cases) ----------------------------

  private val sparkCases = 5

  property("quality gates: nonEmpty throws iff empty") = {
    forAll(Gen.choose(0, 3)) { n =>
      val df = (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      if (n == 0)
        throws(classOf[QualityChecks.QualityViolation]) {
          QualityChecks.requireNonEmpty(df, "t")
        }
      else QualityChecks.requireNonEmpty(df, "t") == n.toLong
    }
  }

  property("quality gates: nullKeys throws iff any null") = {
    forAll(Gen.choose(0, 2), Gen.choose(1, 3)) { (nulls, clean) =>
      val rows = (1 to clean).map(i => (Some(i.toLong), s"c$i")) ++
        (1 to nulls).map(i => (Option.empty[Long], s"n$i"))
      val df = rows.toDF("id", "v")
      if (nulls > 0)
        throws(classOf[QualityChecks.QualityViolation]) {
          QualityChecks.requireNoNullKeys(df, "t", "id")
        }
      else { QualityChecks.requireNoNullKeys(df, "t", "id"); true }
    }
  }

  property("quality gates: requireLoaded == nonEmpty then nullKeys") = {
    forAll(Gen.choose(0, 2), Gen.choose(0, 3)) { (nulls, clean) =>
      val rows = (1 to clean).map(i => (Some(i.toLong), s"c$i")) ++
        (1 to nulls).map(i => (Option.empty[Long], s"n$i"))
      val df = rows.toDF("id", "v")
      def outcome(gate: => Long): Either[String, Long] =
        try Right(gate)
        catch { case e: QualityChecks.QualityViolation => Left(e.getMessage) }
      outcome(QualityChecks.requireLoaded(df, "t", "id")) == outcome {
        val n = QualityChecks.requireNonEmpty(df, "t")
        QualityChecks.requireNoNullKeys(df, "t", "id")
        n
      }
    }
  }

  property("semDedup: every id tagged once; keep iff no lower-id cell twin") = {
    val vecGen = Gen.listOfN(6, Gen.choose(-100, 100).map(_ / 100.0f))
    forAll(
      Gen.choose(4, 12).flatMap(n => Gen.listOfN(n, vecGen)),
      Gen.oneOf(0.3, 0.5, 0.7)) { (vs, tau) =>
      val cents = Similarity.hyperplanes(2, 6).map(_.map(_.toDouble))
      val df = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v, 0) }.toDF("vec_id", "embedding", "label")
      val out = Similarity.semDedup(df, "vec_id", "embedding", cents, tau)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
      // driver twin of the cell assignment and the rounded cosine
      def cell(v: Seq[Float]): Int =
        cents.zipWithIndex.map { case (c, i) =>
          (v.map(_.toDouble).zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i)
        }.min._2
      def cos6(a: Seq[Float], b: Seq[Float]): Double = {
        val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
        val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
        val den = math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum)
        if (den == 0.0) Double.NaN // zero vector: NaN ≥ τ is false on both sides
        else BigDecimal(dot / den).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val ids = vs.indices.map(_.toLong)
      def hasLowerTwin(i: Int): Boolean = ids.take(i).exists { j =>
        cell(vs(j.toInt)) == cell(vs(i)) && cos6(vs(j.toInt), vs(i)) >= tau
      }
      out.keySet == ids.toSet &&
        ids.forall(i => out(i)._1 == cell(vs(i.toInt))) &&
        ids.forall(i => out(i)._2 == !hasLowerTwin(i.toInt))
    }
  }

  property("streaming per-row minhash sketch == batch aggregate sketch") = {
    // the StreamingNearDup append-safety argument rests on the per-row
    // HOF fold producing the SAME signature as the batch
    // TypedImperativeAggregate — pin it on random corpora, not just
    // the fixture docs
    val word = Gen.oneOf((1 to 12).map(i => s"t$i"))
    val docGen = Gen.choose(1, 25).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    forAll(Gen.choose(1, 4).flatMap(m => Gen.listOfN(m, docGen))) { texts =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val perRow = graft.streaming.StreamingNearDup
        .signatures(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val batch = df
        .select(col("doc_id"), explode(
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3)).as("s"))
        .withColumn("hb", xxhash64(col("s")))
        .groupBy(col("doc_id"))
        .agg(expr("graft_minhash_bands(hb, 64, 16)").as("sk"))
        .select(col("doc_id"), col("sk.sig"), col("sk.bands"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2)))).toMap
      // map-only twin of the aggregate: fused per-row sig + native FNV
      // band mix — the pair MinHashNearDup now ships as its sketch stage
      val mapOnly = df
        .select(col("doc_id"),
          TextOps.shinglesFromTokens(TextOps.tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          expr("graft_minhash_sig(sh, 64)").as("sig"))
        .withColumn("bh", expr("graft_minhash_band_mix(sig, 16)"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2)))).toMap
      perRow == batch.view.mapValues(_._1).toMap && mapOnly == batch
    }
  }

  property("native graft_hash60 == conv(substring(md5)) SQL spelling") = {
    // the portable 60-bit hash backs shingle fingerprints, sampling
    // residues and the simhash word votes — the native expression must
    // be bit-identical to the SQL spelling the DuckDB oracles mirror;
    // mix ascii, unicode and empty strings
    val strGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(24)),
      Gen.const(""),
      Gen.const("héllo wörld ✓"),
      Gen.listOfN(6, Gen.choose('a', 'z')).map(_.mkString),
      Gen.const("a b c d e"))
    forAll(Gen.listOfN(8, strGen)) { xs =>
      val df = xs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "s")
      val got = df.selectExpr("i", "graft_hash60(s) AS h")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = df
        .select(col("i"),
          conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      got == want
    }
  }

  property("fused graft_shingles == HOF transform/concat_ws/array_distinct spelling") = {
    // the fused expression replaced the CodegenFallback HOF chain on
    // every shingle-family hot path — order (first occurrence), the
    // skip-null concat_ws fold, multi-space empty tokens, unicode and
    // the <n-token empty guard must all match bit-for-bit
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.const("a"),
      Gen.const("a b"),
      Gen.const("a  b   c d"), // empty tokens from repeated spaces
      Gen.const("x y x y x y x y"), // heavy duplication
      Gen.const("héllo wörld ✓ héllo wörld ✓ tail"),
      Gen.listOfN(12,
        Gen.oneOf("a", "bb", "", "ccc", "d d")).map(_.mkString(" ")),
      Gen.listOf(Gen.oneOf("w1", "w2", "w3", "w4")).map(_.mkString(" ")))
    forAll(Gen.listOfN(6, textGen), Gen.choose(1, 4)) { (xs, n) =>
      val df = xs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
        .withColumn("ws", TextOps.tokens(col("t")))
      val got = df.select(col("i"), TextOps.shinglesFromTokens(col("ws"), n).as("sh"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("i"), TextOps.shinglesFromTokensHof(col("ws"), n).as("sh"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      val nullIn = spark.sql("SELECT coalesce(graft_shingles(NULL, 2), array()) AS sh")
        .collect().head.getSeq[String](0)
      got == want && nullIn.isEmpty
    }
  }

  property("fused graft_cdc_chunks == aggregate-HOF fold spelling") = {
    // the fused chunker replaced the CodegenFallback aggregate fold on
    // the n151/s42/n169 map side — cut placement (AFTER the selected
    // token), the skip-null concat_ws join, empty tokens (which can
    // themselves cut), the trailing-chunk flush and the empty-input
    // guard must all match bit-for-bit
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.const("a"),
      Gen.const("a  b   c d"), // empty tokens from repeated spaces
      Gen.const("héllo wörld ✓ héllo wörld ✓ tail"),
      Gen.listOfN(24,
        Gen.oneOf("a", "bb", "", "ccc", "w1", "w2")).map(_.mkString(" ")),
      Gen.listOf(Gen.oneOf("x", "y", "z")).map(_.mkString(" ")))
    forAll(Gen.listOfN(6, textGen), Gen.choose(1, 5)) { (xs, div) =>
      val df = xs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
        .withColumn("ws", TextOps.tokens(col("t")))
      val got = df.select(col("i"), TextOps.cdcChunks(col("ws"), div).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("i"), TextOps.cdcChunksHof(col("ws"), div).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      got == want
    }
  }

  property("fused graft_pos_fps == conv/substring/md5 HOF spelling") = {
    // the fused positional-fingerprint expression replaced the
    // three-strings-per-gram SQL chain on the CrossDupSpans /
    // winnowing map side — positions (1-based), the md5-prefix long,
    // multi-space empty tokens, unicode and the <n guard must match
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.const("a b c d"),
      Gen.const("x  y   z w v"), // empty tokens from repeated spaces
      Gen.const("héllo wörld ✓ tail one two"),
      Gen.listOf(Gen.oneOf("w1", "w2", "", "a b")).map(_.mkString(" ")))
    forAll(Gen.listOfN(5, textGen), Gen.choose(2, 5)) { (xs, n) =>
      val df = xs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
        .withColumn("graft__ws", TextOps.tokens(col("t")))
      val got = df.selectExpr("i", s"graft_pos_fps(graft__ws, $n) AS pf")
        .selectExpr("i", "transform(pf, g -> struct(g.p, g.fp)) AS pf")
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(g => (g.getLong(0), g.getLong(1))))
        .toMap
      val want = df.selectExpr("i", CrossDupSpans.posFpsHofSql(n) + " AS pf")
        .selectExpr("i", "transform(pf, g -> struct(g.p, g.fp)) AS pf")
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(g => (g.getLong(0), g.getLong(1))))
        .toMap
      got == want
    }
  }

  property("graft_shingle_tfs: grams == graft_shingles, tfs sum to the gram count") = {
    val textGen = Gen.oneOf(
      Gen.const(""),
      Gen.const("a b a b a"),
      Gen.const("x  y   x y"),
      Gen.listOf(Gen.oneOf("w1", "w2", "w3")).map(_.mkString(" ")))
    forAll(Gen.listOfN(5, textGen), Gen.choose(1, 3)) { (xs, n) =>
      val df = xs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
        .withColumn("ws", TextOps.tokens(col("t")))
      val rows = df.selectExpr("i", "size(ws) AS nt",
        s"graft_shingle_tfs(ws, $n) AS ts", s"graft_shingles(ws, $n) AS sh")
        .collect()
      rows.forall { r =>
        val nt = r.getInt(1)
        val ts = r.getSeq[org.apache.spark.sql.Row](2)
          .map(g => (g.getString(0), g.getLong(1)))
        val sh = r.getSeq[String](3)
        ts.map(_._1) == sh && // same grams, same first-occurrence order
          ts.map(_._2).sum == math.max(nt - n + 1, 0).toLong && // tf total
          ts.forall(_._2 >= 1L)
      }
    }
  }

  property("per-row simhash == explode+distinct+vote aggregate simhash") = {
    // duplicated words inside a doc exercise the per-row dedup (the
    // aggregate spelling distincts (doc, word) globally); tiny shared
    // vocabulary makes cross-doc word reuse common
    val word = Gen.oneOf((1 to 8).map(i => s"s$i"))
    val docGen = Gen.choose(1, 20).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    forAll(Gen.choose(1, 5).flatMap(m => Gen.listOfN(m, docGen))) { texts =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val perRow = df
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .selectExpr("doc_id", "graft_simhash_of(ws) AS h")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val agg = df
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .distinct()
        .withColumn("v", TextOps.hexHash60(col("w")))
        .groupBy(col("doc_id"))
        .agg(expr("graft_simhash(v)").as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      perRow == agg
    }
  }

  property("line dedup: first-occurrence keep, ordered reassembly, exact bookkeeping") = {
    // tiny vocabulary + 3-token lines → heavy collisions, incl. docs
    // that lose every line (they must vanish from the output)
    val word = Gen.oneOf("a", "b", "c")
    val docGen = Gen.choose(1, 18).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    forAll(Gen.choose(2, 6).flatMap(m => Gen.listOfN(m, docGen))) { texts =>
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = LineDedup.dedup(df, "doc_id", "text", lineTokens = 3)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
            r.getAs[Long]("n_dropped")))).toMap
      // driver twin: scan docs in id order, keep each line's first
      // occurrence, reassemble in place
      val seen = scala.collection.mutable.Set.empty[String]
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        val ls = t.split(" ").grouped(3).map(_.mkString(" ")).toVector
        val kept = ls.filter(seen.add)
        if (kept.isEmpty) None
        else Some(i.toLong ->
          ((kept.mkString(" "), kept.size.toLong, (ls.size - kept.size).toLong)))
      }.toMap
      out == expect
    }
  }

  property("as-of join equals the naive per-row scan on random event sets") = {
    // few keys + a narrow timestamp range force equal-ts collisions, so
    // the inclusive bound AND the tie-break path both get exercised
    val rowGen = for {
      k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 15L)
    } yield (k, t)
    forAll(Gen.listOfN(12, rowGen), Gen.listOfN(12, rowGen)) { (ls, rs) =>
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "k", "lts")
      val right = rs.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k2", "rts", "rv")
      val got = AsofJoin.asofBackward(
        left, right.select(col("k2").as("k"), col("rts"), col("rv")),
        key = "k", leftTs = "lts", rightTs = "rts",
        rightValue = "rv", rightTieBreak = "rv", outCol = "m")
        .collect().map(r => r.getAs[Long]("lid") ->
          Option(r.get(r.fieldIndex("m"))).map(_.asInstanceOf[Long])).toMap
      // driver twin: latest right.ts <= left.ts in the key group;
      // equal timestamps break to the largest tiebreak (= rv here)
      val expect = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rs.zipWithIndex
          .filter { case ((rk, rt), _) => rk == k && rt <= t }
        i.toLong -> (if (cands.isEmpty) None
        else Some(cands.maxBy { case ((_, rt), rv) => (rt, rv.toLong) }._2.toLong))
      }.toMap
      got == expect
    }
  }

  property("canonical registry view: one window == the persisted self-join spelling") = {
    // few clusters over many docs, so clusters hold several members and
    // some hold one; cluster ids need not be member ids (a forgotten min)
    val rowGen = for {
      d <- Gen.choose(0L, 40L); c <- Gen.choose(0L, 6L)
    } yield (d, c)
    forAll(Gen.listOf(rowGen)) { rows =>
      val a = rows.toMap.toSeq.toDF("doc_id", "cluster_id")
      val got = ClusterRegistry.canonical(a).as[(Long, Long)].collect().toSet
      // the earlier spelling: a persisted assignment frame self-joined
      // with its per-cluster min
      val p = a.persist()
      val old = p.join(p.groupBy(col("cluster_id"))
          .agg(min(col("doc_id")).as("graft__canon")), Seq("cluster_id"))
        .select(col("doc_id"), col("graft__canon").as("cluster_id"))
        .as[(Long, Long)].collect().toSet
      p.unpersist(blocking = false)
      got == old
    }
  }

  property("len(bin(n)) == floor(log2 n) + 1 for any positive count (the n90 bucket)") =
    forAll(Gen.choose(1L, 1L << 52)) { n =>
      java.lang.Long.toBinaryString(n).length ==
        63 - java.lang.Long.numberOfLeadingZeros(n) + 1
    }

  property("two-level top-k == one-level window top-k for any data and salt width") = {
    // the helper behind n75/n78/n82: local winners per (group, salt)
    // bucket, then the final rank — must equal the naive single window
    // for ANY grouping, duplicate values (total order comes from the
    // id tiebreak), salt width, and k
    val rowGen = Gen.listOf(for {
      g <- Gen.choose(0, 3); v <- Gen.choose(0, 5)
    } yield (g, v))
    forAll(rowGen, Gen.choose(1, 8), Gen.choose(1, 5)) { (rows, salts, k) =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id")
      val got = TopK.twoLevel(
        df, Seq(col("g")), pmod(hash(col("id")), lit(salts)),
        Seq(col("v").desc, col("id")), k)
        .select(col("g"), col("id"), col("rk"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val expect = rows.zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
        .groupBy(_._1)
        .flatMap { case (g, grp) =>
          grp.sortBy { case (_, v, id) => (-v, id) }.take(k).zipWithIndex
            .map { case ((_, _, id), r) => (g, id, (r + 1).toLong) }
        }.toSet
      got == expect
    }
  }

  property("unpivot of a flag matrix preserves every set flag exactly once") = {
    val flagGen = Gen.listOfN(3, Gen.listOfN(3, Gen.oneOf("1", "", "0")))
    forAll(flagGen) { rows =>
      val df = rows.zipWithIndex
        .map { case (fs, i) => (i.toLong, fs(0), fs(1), fs(2)) }
        .toDF("id", "f1", "f2", "f3")
      val long = df.unpivot(
        Array(col("id")), Array(col("f1"), col("f2"), col("f3")),
        "flag_name", "flag")
      // row count is rows × flags, and filtering "1" matches the set count
      val expectSet = rows.map(_.count(_ == "1")).sum
      long.count() == rows.size * 3 &&
        long.filter(col("flag") === "1").count() == expectSet
    }
  }

  // --- round-10 laws --------------------------------------------------

  property("gramPowerStep is additive over disjoint corpora (exact sums)") = {
    val vecGen = Gen.listOfN(4, Gen.choose(-100, 100).map(_ / 50.0f))
    forAll(Gen.nonEmptyListOf(vecGen), Gen.nonEmptyListOf(vecGen)) { (a, b) =>
      def y(vs: List[List[Float]], base: Long) = Similarity.gramPowerStep(
        vs.zipWithIndex.map { case (v, i) => (base + i, v) }
          .toDF("vec_id", "embedding"), "embedding")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ya = y(a, 0L)
      val yb = y(b, 1000L)
      val yab = y(a ++ b, 2000L)
      yab == (ya.keySet ++ yb.keySet).map(d =>
        d -> (ya.getOrElse(d, 0L) + yb.getOrElse(d, 0L))).toMap
    }
  }

  property("boustrophedon deal: every 2S-window gives each shard one doc") = {
    forAll(Gen.choose(1, 4), Gen.choose(1, 40)) { (shards, n) =>
      val docs = (1 to n).map(i => (i.toLong, ((i * 131) % 50 + 1).toLong))
        .toDF("doc_id", "sz")
      val got = ShardBalance.assign(docs, "doc_id", "sz", shards)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // reconstruct rank order and check each full 2S window is a
      // permutation-complete deal (every shard exactly twice)
      val ranked = (1 to n).map(i => (i.toLong, ((i * 131) % 50 + 1).toLong))
        .sortBy { case (id, sz) => (-sz, id) }.map(_._1)
      val windows = ranked.grouped(2 * shards).toList
      windows.filter(_.size == 2 * shards).forall { w =>
        w.map(got).groupBy(identity).values.forall(_.size == 2)
      } && got.values.forall(s => s >= 0 && s < shards)
    }
  }

  property("recallAtK: hits = |exact ∩ approx| per query, bounded by k") = {
    val idsGen = Gen.listOfN(6, Gen.choose(0L, 9L)).map(_.distinct)
    forAll(idsGen, idsGen) { (ex, ap) =>
      (ex.nonEmpty) ==> {
        val exact = ex.map(i => (1L, i)).toDF("query_id", "vec_id")
        val approx = ap.map(i => (1L, i)).toDF("query_id", "vec_id")
        val r = Similarity.recallAtK(exact, approx, "query_id", "vec_id",
          k = math.max(ex.size, 1))
          .collect().head
        r.getLong(1) == ex.toSet.intersect(ap.toSet).size &&
          r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0
      }
    }
  }

  property("pagerank step conserves damped mass up to floor loss") = {
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1L, 8L), Gen.choose(1L, 8L)))
    forAll(edgeGen) { es0 =>
      val es = es0.distinct
      val df = es.toDF("u", "v")
      val rows = PageRank.step(df, "u", "v").collect()
      val nodes = rows.length
      val totalRank = rows.map(_.getLong(2)).sum
      // sent mass = Σ_u deg(u)·floor(scale/deg(u)) ∈ (scale·srcs - loss, scale·srcs]
      val srcs = es.map(_._1).distinct.size
      val upper = 150000L * nodes + 850000L * srcs
      val lowerLoss = es.size.toLong // ≤ 1 unit per edge from each floor
      totalRank <= upper &&
        totalRank >= 150000L * nodes + (850000L * srcs) - 2L * lowerLoss -
          100L * srcs // damping floor per receiving sum
    }
  }

  property("IterationCheckpoint local/localCounted/reliable return their input") = {
    // every materialization the iterative loops use must hand back its
    // input row for row — the symmetrize-distinct edge shape of the
    // components rounds, over ids from the 2e7+ ring range of the
    // 10^7-edge components runs as well as small ones
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir("target/test_iteration_checkpoint")
    val id = Gen.oneOf(Gen.choose(0L, 50L),
      Gen.choose(20000000L, 21000000L), Gen.const(Long.MaxValue))
    forAll(Gen.listOf(Gen.zip(id, id))) { edges =>
      val base = edges.toDF("u", "v")
      val sym = base.union(base.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().groupBy(identity).view.mapValues(_.length).toMap
      val want = bag(sym)
      def same(df: org.apache.spark.sql.DataFrame) =
        df.schema == sym.schema && bag(df) == want
      val (l, lIds) = IterationCheckpoint.local(sym)
      val (c, cIds, n) = IterationCheckpoint.localCounted(sym)
      val (r, _) = IterationCheckpoint.reliable(sym)
      val ok = same(l) && same(c) && n == want.values.sum && same(r)
      IterationCheckpoint.release(sc, lIds ++ cIds)
      ok
    }
  }

  property("snapshot diff statuses partition the id universe") = {
    val snapGen = Gen.listOf(Gen.zip(Gen.choose(1L, 12L), Gen.alphaStr))
      .map(_.toMap.toList)
    forAll(snapGen, snapGen) { (o, n) =>
      (o.nonEmpty || n.nonEmpty) ==> {
        val od = o.toDF("doc_id", "text")
        val nd = n.toDF("doc_id", "text")
        val got = SnapshotDiff.diff(od, nd, "doc_id", "text")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val om = o.toMap; val nm = n.toMap
        got.keySet == om.keySet.union(nm.keySet) &&
          got.forall { case (id, st) =>
            (om.get(id), nm.get(id)) match {
              case (None, Some(_))            => st == "added"
              case (Some(_), None)            => st == "removed"
              case (Some(a), Some(b)) if a == b => st == "unchanged"
              case (Some(_), Some(_))         => st == "changed"
              case (None, None)               => false
            }
          }
      }
    }
  }

  // --- lexical index maintenance law (Spark-backed; one index life per
  // case) ----------------------------------------------------------------

  private sealed trait LexOp
  private case object LexRebuild extends LexOp
  private case object LexCompact extends LexOp
  /** New docs; with `reingest`, every id forgotten AND compacted away
    * since comes back too, with the text `reText`. */
  private final case class LexRefresh(
      texts: List[String], reingest: Boolean, reText: String) extends LexOp
  /** Forget the live docs these picks index (doc 0 excepted). */
  private final case class LexForget(picks: List[Int]) extends LexOp

  private val lexLawCases = new java.util.concurrent.atomic.AtomicInteger()

  property("lexical index: df view == live-doc group-by, pointProbe == driver idf-sum, any maintenance sequence") = {
    val word = Gen.oneOf("a", "b", "c", "d")
    val text = Gen.choose(1, 5).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
    val refresh = for {
      ts <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, text))
      re <- Gen.oneOf(true, false)
      rt <- text
    } yield LexRefresh(ts, re, rt)
    val forget = Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.choose(0, 99)))
      .map(LexForget(_))
    val anyOp: Gen[LexOp] = Gen.frequency(1 -> Gen.const(LexRebuild),
      3 -> refresh, 2 -> forget, 2 -> Gen.const(LexCompact))
    val some = Gen.choose(0, 1).flatMap(Gen.listOfN(_, anyOp))
    // random maintenance around one fixed thread: a forget, a later
    // compact, then a refresh that re-ingests the compacted-away ids
    val opsGen = for {
      s1 <- some; f <- forget; s2 <- some; s3 <- some; r <- refresh
      s4 <- some
    } yield s1 ++ (f :: s2) ++ (LexCompact :: s3) ++
      (r.copy(reingest = true) :: s4)
    val baseGen = Gen.choose(0, 4).flatMap(Gen.listOfN(_, text))
    val queryGen = Gen.choose(2, 5).flatMap(Gen.listOfN(_, word))
      .map(_.mkString(" "))
    forAllNoShrink(baseGen, opsGen, queryGen) { (baseTexts, ops, query) =>
      val n = 2
      val path = s"target/test_lexlaw/${lexLawCases.incrementAndGet()}"
      LsmLayout.deleteDir(spark, path)
      // doc 0 always has postings and is never forgotten: a layout with
      // no posting generation at all cannot be read
      val live = scala.collection.mutable.LinkedHashMap[Long, String](
        0L -> "a b c d")
      baseTexts.foreach(t => live(live.size.toLong) = t)
      var nextId = 100L
      var pending = Set.empty[Long]
      var gone = Set.empty[Long] // forgotten, and no longer in the index
      def frame(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")
      LexicalIndex.build(frame(live.toSeq), "doc_id", "text", path, n = n,
        buckets = 4)
      ops.zipWithIndex.foreach {
        case (LexRebuild, _) =>
          LexicalIndex.build(frame(live.toSeq), "doc_id", "text", path,
            n = n, buckets = 4)
          gone ++= pending
          pending = Set.empty
        case (LexCompact, _) =>
          LexicalIndex.compact(spark, path)
          gone ++= pending
          pending = Set.empty
        case (LexRefresh(texts, reingest, reText), i) =>
          val back = if (reingest) gone.toSeq.sorted.map(_ -> reText) else Nil
          val fresh = texts.map { t => nextId += 1; nextId -> t }
          LexicalIndex.refresh(frame(back ++ fresh), "doc_id", "text", path,
            batchId = s"b$i")
          gone --= back.map(_._1)
          (back ++ fresh).foreach { case (id, t) => live(id) = t }
        case (LexForget(picks), i) =>
          val ids = live.keys.filter(_ != 0L).toIndexedSeq
          if (ids.nonEmpty) {
            val del = picks.map(p => ids(p % ids.size)).distinct
            LexicalIndex.tombstone(frame(del.map(d => d -> live(d))),
              "doc_id", "text", path, batchId = s"d$i")
            del.foreach(live.remove)
            pending ++= del
          }
      }
      // the independent twins: df over the live docs' distinct grams, and
      // the idf-sum ranking round(1e6·N/df) over the query's grams
      val grams = live.view.mapValues(LexicalIndex.literalShingles(_, n).toSet)
        .toMap
      val df = grams.values.toSeq.flatMap(_.toSeq).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      def w(g: String): Long = BigDecimal(
        1000000.0 * (live.size.toDouble / df(g).toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val qg = LexicalIndex.literalShingles(query, n).toSet
      val want = grams.toSeq
        .map { case (id, gs) => id -> (gs intersect qg).toSeq.map(w).sum }
        .filter { case (id, _) => (grams(id) intersect qg).nonEmpty }
        .sortBy { case (id, sc) => (-sc, id) }
        .take(10)
      val gotDf = LexicalIndex.lexicon(spark, path)
        .select("shingle", "df").as[(String, Long)].collect().toMap
      val got = LexicalIndex.pointProbe(spark, path, query, k = 10)
        .as[(Long, Long)].collect().toSeq
      (gotDf == df) :| s"lexicon $gotDf != $df after $ops" &&
        (got == want) :| s"pointProbe($query) $got != $want after $ops"
    }
  }
}
