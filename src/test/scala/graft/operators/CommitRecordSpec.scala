package graft.operators

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.SparkTestBase

/** The commit record is a layout's only state: a tree whose data was
  * written but whose record was not (a build that stopped before its
  * commit, or a tree in the format before records) is no layout — every
  * read and write fails and names the rebuild — and a steady-state
  * ingest resolves its layout state from the record instead of listing
  * relation directories. */
class CommitRecordSpec extends SparkTestBase {
  import spark.implicits._

  private val root = "target/test_commitrecord"

  private def words(i: Long, n: Int): String =
    (0 until n).map(j => s"w${(i * 7 + j) % 40}").mkString(" ")

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, words(i, 12), s"g${i % 3}")).toDF("doc_id", "text", "g")

  private def vectors(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (0 until 8).map(j => math.sin(i * 0.7 + j).toFloat)))
      .toDF("vec_id", "embedding")

  private val centroids =
    Similarity.hyperplanes(2, 8).map(_.map(_.toDouble))

  /** Each layout: its build over `ids`, one ingest of `ids` as batch
    * `batch`, and the ids one of its serving paths returns. */
  private case class Layout(
      name: String,
      build: (Seq[Long], String) => Unit,
      ingest: (Seq[Long], String, String) => Unit,
      served: String => Set[Long])

  private val layouts = Seq(
    Layout("band",
      (ids, p) => BandIndex.build(docs(ids), "doc_id", "text", p),
      (ids, p, b) => BandIndex.append(docs(ids), "doc_id", "text", p, b),
      p => BandIndex.signatures(spark, p).select("doc_id").as[Long]
        .collect().toSet),
    Layout("lexical",
      (ids, p) => LexicalIndex.build(docs(ids), "doc_id", "text", p),
      (ids, p, b) => LexicalIndex.refresh(docs(ids), "doc_id", "text", p, b),
      p => LexicalIndex.postings(spark, p).select("doc_id").as[Long]
        .collect().toSet),
    Layout("kmv",
      (ids, p) => KmvLayout.build(docs(ids), "g", "doc_id", "text", p),
      (ids, p, b) =>
        KmvLayout.refresh(docs(ids), "g", "doc_id", "text", p, b),
      p => KmvLayout.servedDocIds(spark, p).as[Long].collect().toSet),
    Layout("ivf",
      (ids, p) => IvfLayout.build(vectors(ids), "vec_id", "embedding", p,
        centroids),
      (ids, p, b) =>
        IvfLayout.refresh(vectors(ids), "vec_id", "embedding", p, b),
      p => IvfLayout.vectors(spark, p).select("vec_id").as[Long]
        .collect().toSet),
    Layout("chunks",
      (ids, p) => ChunkStore.build(docs(ids), "doc_id", "text", p),
      (ids, p, b) => ChunkStore.refresh(docs(ids), "doc_id", "text", p, b),
      p => ChunkStore.servedDocIds(spark, p).as[Long].collect().toSet),
    Layout("registry",
      (ids, p) => ClusterRegistry.build(docs(ids), "doc_id", "text", p),
      (ids, p, b) => ClusterRegistry.ingest(docs(ids), "doc_id", "text", p, b),
      p => ClusterRegistry.assignments(spark, p).select("doc_id").as[Long]
        .collect().toSet))

  private def deleteTree(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** `call` fails loudly and its message names the rebuild. */
  private def namesRebuild(what: String)(call: => Any): Unit = {
    val e = intercept[IllegalStateException](call)
    assert(e.getMessage.contains("rebuild"), s"$what: ${e.getMessage}")
  }

  test("a build stopped after its data writes but before its record is no layout; a re-run build serves like a fresh one") {
    val base = 1L to 24L
    layouts.foreach { l =>
      val p = s"$root/stopped/${l.name}"
      val fresh = s"$root/fresh/${l.name}"
      Seq(p, fresh).foreach(deleteTree)
      l.build(base, p)
      // every relation written, the commit lost: the state a build that
      // crashed between its last data write and its record leaves
      deleteTree(s"$p/_snap")
      namesRebuild(s"${l.name} read")(l.served(p))
      namesRebuild(s"${l.name} ingest")(l.ingest(100L to 102L, p, "b1"))
      l.build(base, p)
      l.build(base, fresh)
      assert(l.served(p) === l.served(fresh), l.name)
      assert(l.served(p).nonEmpty, l.name)
    }
  }

  test("a tree in the format before commit records fails and names the rebuild") {
    val p = s"$root/older/band"
    deleteTree(p)
    BandIndex.build(docs(1L to 24L), "doc_id", "text", p)
    // that format kept its constants in a one-row meta/ relation and its
    // applied batches as _applied/<batch> marker files
    deleteTree(s"$p/_snap")
    spark.range(1).select(lit(64L).as("num_hashes"), lit(16L).as("bands"),
      lit(3L).as("shingle_n")).write.parquet(s"$p/meta")
    new java.io.File(s"$p/_applied").mkdirs()
    new java.io.File(s"$p/_applied/b1").createNewFile()
    namesRebuild("read")(BandIndex.postings(spark, p).count())
    namesRebuild("ingest")(BandIndex.append(docs(100L to 102L), "doc_id",
      "text", p, "b2"))
    // ... and, once compacted, a manifest of base and folded sets only
    new java.io.File(s"$p/_snap").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$p/_snap/0"),
      "base=base-0\nfolded=b1\nappliedTs=\n".getBytes("UTF-8"))
    namesRebuild("compacted read")(BandIndex.signatures(spark, p).count())
  }

  test("a steady-state ingest lists no relation directory of its layout") {
    // the second ingest after a build (the first warms the session): its
    // layout state comes from the record, so the only directory directly
    // under the layout root it lists is `_snap`; the Spark writes list
    // only their own staging and generation directories
    val counts = layouts.map { l =>
      val p = s"$root/calls/${l.name}"
      deleteTree(p)
      l.build(1L to 24L, p)
      l.ingest(100L to 105L, p, "b1")
      val calls = CountingLocalFileSystem.during(spark, p)(
        l.ingest(200L to 205L, p, "b2"))
      assert(l.served(p).contains(205L), l.name)
      val listed = calls.collect {
        case ("listStatus", rel) if !rel.contains('/') && rel != "_snap" => rel
      }
      assert(listed.isEmpty, s"${l.name} ingest listed ${listed.distinct}")
      l.name -> calls.size
    }
    counts.foreach { case (l, n) =>
      info(s"$l: $n listStatus/open/getFileStatus calls per ingest")
    }
  }
}

/** The session's local file system, recording each `listStatus`, `open`
  * and `getFileStatus` call on a path under one directory. */
class CountingLocalFileSystem extends graft.ForkFreeLocalFileSystem {
  private def note(op: String, p: Path): Unit = {
    val under = CountingLocalFileSystem.under.get
    val at = makeQualified(p).toUri.getPath
    if (under.nonEmpty && at.startsWith(under + "/"))
      CountingLocalFileSystem.calls.add(op -> at.stripPrefix(under + "/"))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    note("listStatus", f)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    note("open", f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    note("getFileStatus", f)
    super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  private val under = new AtomicReference[String]("")
  private val calls =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** The (call, path relative to `dir`) of every call `body` makes under
    * `dir`, with the session's `file:` scheme bound to this class
    * (uncached, so every file system the session hands out during `body`
    * records). */
  def during(spark: org.apache.spark.sql.SparkSession, dir: String)(
      body: => Unit): Seq[(String, String)] = {
    val keys = Seq("fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    calls.clear()
    under.set(new java.io.File(dir).getAbsolutePath)
    try {
      body
      calls.toArray(Array.empty[(String, String)]).toSeq
    } finally {
      under.set("")
      keys.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}
