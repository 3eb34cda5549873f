package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.operators.{LayoutSnapshot, LsmLayout}

/** The local write path: every file, `.crc` sidecar and directory a
  * session write creates gets the mode an unbound session gives it,
  * without one `chmod` process per path
  * ([[ForkFreeLocalFileSystem]]), and the layout's commit record write
  * (the `_snap` temp file) never writes through an existing inode — a hard-linked layout clone shares its inodes with
  * the source tree. */
class LocalWritesSpec extends SparkTestBase with BeforeAndAfterAll {

  private lazy val scratch = Files.createTempDirectory("graft-localwrites")

  private def tmpDir(): JPath = Files.createTempDirectory(scratch, "t")

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)

  /** `chmod` processes the JVM started while `body` ran (JFR
    * `jdk.ProcessStart`, which records every process start). */
  private def chmodStarts(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .count(_.getString("command").startsWith("chmod"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** What `file:` resolves to without the session's binding: the
    * class Hadoop's service loader registers for the scheme. */
  private val defaultLocalFs =
    FileSystem.getFileSystemClass("file", new Configuration(false))

  /** Run `body` with the session resolving `file:` to [[defaultLocalFs]]
    * (uncached, so this session's cached instance is bypassed) — the
    * reference for "the mode an unbound session gives". */
  private def withDefaultLocalFs[A](body: => A): A = {
    val keys = Seq("fs.file.impl" -> defaultLocalFs.getName,
      "fs.file.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def localFs(): FileSystem =
    FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** (relative path with write UUIDs masked, octal mode) of every path
    * under `root`. */
  private def modeTree(root: JPath): Set[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U") ->
        f"${mode(p)}%04o"
    }.toSet
    finally walk.close()
  }

  /** The write program of this spec: a 16-bucket `partitionBy` parquet
    * write (committer `_temporary` dirs, part files, `.crc`s,
    * `_SUCCESS`) and a commit record. */
  private def writeProgram(root: JPath): Unit = {
    spark.range(256).withColumn("bucket", col("id") % 16)
      .write.partitionBy("bucket").parquet(s"$root/bucketed")
    commitRecord(s"$root/layout")
  }

  /** Record 0 of a layout at `path` that applied batch b1. */
  private def commitRecord(path: String): Unit =
    LsmLayout.commitSnapshot(spark, path, LayoutSnapshot(path, 0L, "base",
      Map("rel" -> Seq("base", "b1")), Map.empty, Set("b1"), 1L, 0L,
      Map("k" -> "1"), None))

  test("session writes start no chmod process; the default local fs starts dozens") {
    val default = withDefaultLocalFs(chmodStarts(writeProgram(tmpDir())))
    // positive control: the counter sees the default path's processes
    assert(default > 16, s"default local fs started $default chmod processes")
    val session = chmodStarts(writeProgram(tmpDir()))
    assert(session == 0, s"session writes started $session chmod processes")
  }

  test("every written file, .crc and directory gets the default mode; 01777 keeps its sticky bit") {
    val ref = tmpDir()
    withDefaultLocalFs(writeProgram(ref))
    val got = tmpDir()
    writeProgram(got)
    val tree = modeTree(got)
    assert(tree == modeTree(ref))
    assert(tree.exists(_._1.endsWith(".crc")), "checksum sidecars are kept")
    assert(tree.exists(_._1.contains("_snap")))

    // explicit modes, including one PosixFilePermission cannot spell
    val requested = Seq("dir-sticky" -> 0x3ff, "dir-private" -> 0x1c0,
      "file-0640" -> 0x1a0, "file-0600" -> 0x180)
    def apply(root: JPath, fs: FileSystem): Map[String, Int] =
      requested.map { case (name, m) =>
        val p = new Path(s"$root/$name")
        if (name.startsWith("dir")) fs.mkdirs(p) else fs.create(p).close()
        fs.setPermission(p, new FsPermission(m.toShort))
        name -> mode(root.resolve(name))
      }.toMap
    val defaultModes = withDefaultLocalFs(apply(tmpDir(), localFs()))
    val fs = localFs()
    var sessionModes = Map.empty[String, Int]
    val starts = chmodStarts { sessionModes = apply(tmpDir(), fs) }
    assert(sessionModes == defaultModes)
    assert(sessionModes("dir-sticky") == 0x3ff)
    assert(starts == 1, "only the sticky mode takes the chmod fallback")
  }

  test("the session resolves file:/// to the fork-free local fs, which keeps the default rename rule") {
    assert(localFs().getClass == classOf[ForkFreeLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(spark.sessionState.newHadoopConf())
      .getClass == classOf[ForkFreeLocalFileSystem])
    // renaming onto an existing file is refused, as by the default binding
    def renameOntoFile(fs: FileSystem): (Boolean, String) = {
      val root = tmpDir()
      Seq("a", "b").foreach(n => Files.write(root.resolve(n), n.getBytes("UTF-8")))
      (fs.rename(new Path(s"$root/a"), new Path(s"$root/b")),
        new String(Files.readAllBytes(root.resolve("b")), "UTF-8"))
    }
    val bound = renameOntoFile(localFs())
    assert(bound == withDefaultLocalFs(renameOntoFile(localFs())))
    assert(bound == ((false, "b")))
  }

  test("the record temp write never writes through a hard-linked file") {
    val src = tmpDir()
    val clone = tmpDir()
    // a commit that crashed before its rename leaves the temp file behind
    val tmpName = "_snap/.tmp-0"
    Files.createDirectories(src.resolve("_snap"))
    Files.write(src.resolve(tmpName), "source".getBytes("UTF-8"))
    // clone the tree the way CorpusFixture does: directories made,
    // files (sidecars included) hard-linked
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { s =>
      val d = clone.resolve(src.relativize(s))
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else Files.createLink(d, s)
    } finally walk.close()
    val old = FileTime.fromMillis(86400000L)
    val watched = Seq(src.resolve(tmpName))
    watched.foreach { p =>
      Files.setLastModifiedTime(p, old)
      Files.setAttribute(p, "unix:mode", Integer.valueOf(0x180))
    }

    commitRecord(clone.toString)

    def ino(p: JPath) = Files.getAttribute(p, "unix:ino")
    assert(ino(src.resolve(tmpName)) != ino(clone.resolve("_snap/0")))
    watched.foreach { p =>
      assert(Files.getLastModifiedTime(p) == old, s"$p mtime")
      assert(mode(p) == 0x180, s"$p mode")
    }
    assert(new String(Files.readAllBytes(src.resolve(tmpName)), "UTF-8") ==
      "source")
    val rec = LsmLayout.snapshot(spark, clone.toString)
    assert(rec.isApplied("b1") && rec.ordinal == 1L &&
      rec.liveIn(s"$clone/rel") == Seq("base", "b1") && rec.constant("k") == "1")
  }
}
