package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{BandIndex, LexicalIndex, LsmLayout}
import graft.pipeline.BikesharePipeline
import graft.warehouse.Warehouse

/** The stored format, read from the parquet footers: the staged star
  * schema and the layout relations are written compactly (INT64
  * TIMESTAMP(MICROS) timestamps in the warehouse, v2 data pages in
  * both), while a sink written in the same session keeps the session's
  * INT96 timestamps and v1 pages; and the two sorted layouts keep their
  * within-file sort order on disk. */
class StoredFormatSpec extends SparkTestBase {
  import spark.implicits._

  private val Root = "target/test_storedformat"

  /** Every column chunk of every parquet file under `dir`. */
  private def chunks(dir: String): Seq[ColumnChunkMetaData] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val files = Seq.newBuilder[Path]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) files += p
    }
    files.result().flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally r.close()
    }
  }

  private def column(dir: String, name: String): Seq[ColumnChunkMetaData] =
    chunks(dir).filter(_.getPath.toDotString == name)

  /** At least one chunk, and every chunk written on v2 data pages. */
  private def allV2(cs: Seq[ColumnChunkMetaData]): Boolean =
    cs.nonEmpty && cs.forall(_.getEncodingStats.usesV2Pages)

  private def noneV2(cs: Seq[ColumnChunkMetaData]): Boolean =
    cs.nonEmpty && cs.forall(!_.getEncodingStats.usesV2Pages)

  private def isMicros(c: ColumnChunkMetaData): Boolean =
    c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
      c.getPrimitiveType.getLogicalTypeAnnotation ==
        LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)

  private def tableDir(table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location.toString

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  private val TsKey = "spark.sql.parquet.outputTimestampType"
  private val PageKey = "parquet.writer.version"

  test("staged trip_fact stores start_time as INT64 TIMESTAMP(MICROS) on v2 pages; the caller's conf is unchanged") {
    val before = (spark.conf.getOption(TsKey), spark.conf.getOption(PageKey))
    BikesharePipeline.run(
      spark, fixture("trips.csv"), fixture("weather.csv"), db = "graft_fmt")
    val dir = tableDir("graft_fmt.trip_fact")
    val st = column(dir, "start_time")
    assert(st.nonEmpty && st.forall(isMicros), st.map(_.getPrimitiveType))
    assert(column(dir, "end_time").forall(isMicros))
    assert(allV2(chunks(dir)), "every staged column chunk is on v2 pages")
    assert((spark.conf.getOption(TsKey), spark.conf.getOption(PageKey)) ===
      before, "the stage must leave the caller's session conf as it was")
    // the caller reads the staged timestamps back unchanged
    val built = BikesharePipeline.build(
      spark, fixture("trips.csv"), fixture("weather.csv"))("trip_fact")
    def trips(df: DataFrame) =
      df.select("trip_id", "start_time", "end_time").collect().map(_.toSeq).toSet
    assert(trips(spark.table("graft_fmt.trip_fact")) === trips(built))
  }

  test("a sink's path write in the same session keeps INT96 timestamps and v1 pages") {
    val df = Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:05:00")))
      .toDF("id", "ts")
    Warehouse.createDatabase(spark, "graft_fmt")
    Warehouse.stage(df, "graft_fmt.ts_staged")
    assert(column(tableDir("graft_fmt.ts_staged"), "ts").forall(isMicros))
    val sink = s"$Root/sink"
    Warehouse.overwrite(df, sink)
    val ts = column(sink, "ts")
    assert(ts.nonEmpty && ts.forall(
      _.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT96))
    assert(noneV2(chunks(sink)), "a sink write keeps v1 pages")
    assert(rows(spark.read.parquet(sink)) === rows(df))
  }

  test("a query-execution listener registered on the caller's session sees the staging write") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.analyzed.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Warehouse.createDatabase(spark, "graft_fmt")
    spark.listenerManager.register(listener)
    try {
      Warehouse.stage(Seq((1L, "x")).toDF("id", "v"), "graft_fmt.listened")
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.asScala.exists(_.contains("listened")),
      "the staging write must reach the caller's listeners")
  }

  private def lexCorpus(ids: Range): DataFrame = {
    val rnd = new scala.util.Random(7)
    val all = (1 to 400).map(i =>
      (i.toLong, Seq.fill(8)(s"w${rnd.nextInt(40)}").mkString(" ")))
    all.filter { case (i, _) => ids.contains(i.toInt) }.toDF("doc_id", "text")
  }

  test("a lexical layout's generations are written with v2 pages") {
    val p = s"$Root/lex_v2"
    LexicalIndex.build(lexCorpus(1 to 100), "doc_id", "text", p, n = 2, buckets = 4)
    LexicalIndex.refresh(lexCorpus(101 to 120), "doc_id", "text", p, batchId = "b1")
    LexicalIndex.tombstone(lexCorpus(1 to 5), "doc_id", "text", p, batchId = "d1")
    Seq("postings/gen=base", "postings/gen=b1", "meta/gen=base", "meta/gen=b1",
      "meta/gen=ts-d1", "tombstones").foreach { rel =>
      assert(allV2(chunks(s"$p/$rel")), s"$rel must be on v2 pages")
    }
    val band = s"$Root/band_v2"
    BandIndex.build(lexCorpus(1 to 50), "doc_id", "text", band)
    Seq("postings", "sigs").foreach { rel =>
      assert(allV2(chunks(s"$band/$rel")), s"band $rel must be on v2 pages")
    }
    assert(!new java.io.File(s"$band/meta").exists(),
      "the band's constants live in its commit record, not a meta relation")
  }

  /** Rewrite the generation directory `dir` as parquet v1 pages in
    * place — the files an older tree holds. */
  private def rewriteAsV1(dir: String, partitionCols: String*): Unit = {
    val tmp = s"$Root/v1_rewrite"
    val w = spark.read.parquet(dir).write.mode("overwrite")
      .option(PageKey, "v1")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(tmp)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(dir), true)
    assert(fs.rename(new Path(tmp), new Path(dir)))
    assert(noneV2(chunks(dir)), s"$dir must now be on v1 pages")
  }

  test("a layout with a v1 base and a v2 delta serves like an all-v2 rebuild") {
    val mixed = s"$Root/lex_mixed"
    val fresh = s"$Root/lex_fresh"
    LexicalIndex.build(lexCorpus(1 to 100), "doc_id", "text", mixed, n = 2, buckets = 4)
    rewriteAsV1(s"$mixed/postings/gen=base", "bucket")
    rewriteAsV1(s"$mixed/meta/gen=base")
    LexicalIndex.refresh(lexCorpus(101 to 130), "doc_id", "text", mixed, batchId = "b1")
    assert(allV2(chunks(s"$mixed/postings/gen=b1")))
    LexicalIndex.build(lexCorpus(1 to 130), "doc_id", "text", fresh, n = 2, buckets = 4)
    val probeText = lexCorpus(7 to 7).head().getString(1)
    Seq[String => DataFrame](
      LexicalIndex.pointProbe(spark, _, probeText, 10),
      LexicalIndex.lexicalTopK(spark, _, 7L, 10),
      LexicalIndex.bm25TopK(spark, _, 7L, 10),
      LexicalIndex.moreLikeThis(spark, _, 120L, 10)).foreach { q =>
      val want = rows(q(fresh))
      assert(want.nonEmpty)
      assert(rows(q(mixed)) === want)
    }

    val bandMixed = s"$Root/band_mixed"
    val bandFresh = s"$Root/band_fresh"
    val docs = (1 to 40).map(i => (i.toLong, (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
    val corpus = docs.toDF("doc_id", "text")
    BandIndex.build(corpus.filter(col("doc_id") <= 30), "doc_id", "text", bandMixed)
    rewriteAsV1(s"$bandMixed/postings/gen=base", "band")
    rewriteAsV1(s"$bandMixed/sigs/gen=base")
    BandIndex.append(corpus.filter(col("doc_id") > 30), "doc_id", "text",
      bandMixed, batchId = "b1")
    BandIndex.build(corpus, "doc_id", "text", bandFresh)
    // near duplicates of one base doc and one delta doc
    val query = Seq(3L, 35L).map { i =>
      (1000L + i, (1 to 19).map(j => s"t${i}_$j").mkString(" ") + " zz")
    }.toDF("doc_id", "text")
    def probe(p: String) = BandIndex.probe(corpus, query, "doc_id", "text", p, 0.8)
      .collect().map(_.toSeq).toSet
    assert(probe(bandFresh).size === 2)
    assert(probe(bandMixed) === probe(bandFresh))
  }

  /** (files, files with a row whose `key` is below the previous row's)
    * over every parquet file under `dir`, in each file's row order. */
  private def sortedCheck(dir: String, key: String): (Long, Long) = {
    val read = spark.read.parquet(dir)
      .select(col("_metadata.file_path").as("f"), col(key).as("k"))
      .withColumn("o", monotonically_increasing_id())
    val prev = lag(col("k"), 1).over(Window.partitionBy(col("f")).orderBy(col("o")))
    (read.select("f").distinct().count(),
      read.withColumn("p", prev).filter(col("p") > col("k"))
        .select("f").distinct().count())
  }

  test("lexical postings stay shingle-sorted in every bucket file after a build, a refresh and a compact") {
    val p = s"$Root/lex_sorted"
    def check(step: String): Unit = {
      val (files, unsorted) = sortedCheck(s"$p/postings", "shingle")
      assert(files >= 4 && unsorted === 0L,
        s"after $step: $unsorted of $files bucket files are not shingle-sorted")
    }
    LexicalIndex.build(lexCorpus(1 to 300), "doc_id", "text", p, n = 2, buckets = 4)
    check("build")
    LexicalIndex.refresh(lexCorpus(301 to 400), "doc_id", "text", p, batchId = "b1")
    check("refresh")
    LexicalIndex.tombstone(lexCorpus(1 to 10), "doc_id", "text", p, batchId = "d1")
    LexicalIndex.compact(spark, p)
    val base = LsmLayout.snapshot(spark, p).base
    assert(new java.io.File(s"$p/postings/gen=$base").exists(),
      "the compact must have folded the postings")
    check("compact")
  }

  test("band postings stay band_val-sorted in every band file after a build, an append and a compact") {
    val p = s"$Root/band_sorted"
    val docs = lexCorpus(1 to 400).withColumn("text",
      concat_ws(" ", col("text"), col("text"), col("doc_id").cast("string")))
    def check(step: String): Unit = {
      val (files, unsorted) = sortedCheck(s"$p/postings", "band_val")
      assert(files >= 16 && unsorted === 0L,
        s"after $step: $unsorted of $files band files are not band_val-sorted")
    }
    BandIndex.build(docs.filter(col("doc_id") <= 300), "doc_id", "text", p)
    check("build")
    BandIndex.append(docs.filter(col("doc_id") > 300), "doc_id", "text", p,
      batchId = "b1")
    check("append")
    BandIndex.tombstone(docs.filter(col("doc_id") <= 10), "doc_id", p,
      batchId = "d1")
    BandIndex.compact(spark, p)
    check("compact")
  }
}
