package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Single place where engine sessions are configured — reader-affecting
  * settings live here, not inside the data path (no `spark.conf.set` in
  * readers; see Tables).
  *
  * - shuffle partitions sized to local cores (32 on the harness box; a
  *   real cluster would size to 2-3× total cores or rely on AQE
  *   coalescing, which is on by default in Spark 4).
  * - session TZ pinned UTC so timestamp↔epoch casts match DuckDB.
  * - parquet timestamps read as TimestampType (not NTZ); TIMESTAMP(NANOS)
  *   columns surface as long for compatibility with the nanos vintage of
  *   events.ts (Tables truncates to micros when it sees the long form —
  *   a no-op config for micros-vintage data).
  * - the `file` scheme resolves to [[ForkFreeLocalFileSystem]]. Without
  *   the `libhadoop` native library, Hadoop's `RawLocalFileSystem` sets
  *   every file, `.crc` sidecar and directory mode by starting a `chmod`
  *   PROCESS — measured with JFR `jdk.ProcessStart`: 1,326 `chmod`
  *   starts in one perfbench `corpus_maintain` run (set-up plus one
  *   cycle) and 75 in one `analytics_serve` run, which is part of the
  *   fixed cost of every write job (warm session, `local[4]` on a
  *   4-core VM: a 16-bucket `partitionBy` write 424 → 192 ms, a
  *   one-file parquet write 106 → 78 ms, a zero-byte marker 6.3 →
  *   0.2 ms). The binding sets the same modes with one chmod(2) call
  *   each; checksums and the output committer are unchanged. It is a
  *   `spark.hadoop.` setting, so every Hadoop configuration the session
  *   hands out carries it.
  * - parquet writes keep Spark's defaults here (INT96 timestamps, v1
  *   data pages): the query sinks are read by DuckDB, which would read
  *   INT64 timestamps with a time zone. The compact stored format is
  *   scoped instead: `Warehouse`'s stagings write through a clone of
  *   this session that carries it (`Warehouse.StoredFormat`), and the
  *   stored layouts set v2 pages per write (`LsmLayout.writeRelation`).
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(threads: String = cpus, appName: String = "graft"): SparkSession =
    SparkSession
      .builder()
      .appName(appName)
      .withExtensions(graft.functions.GraftFunctions.register)
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.hadoop.fs.file.impl",
        classOf[ForkFreeLocalFileSystem].getName)
      .getOrCreate()
}

/** Hadoop's checksummed local file system over [[ForkFreeRawLocalFileSystem]]
  * — bound to the `file` scheme by [[Sessions.local]]. It keeps the one
  * rule of the class the scheme resolves to without the binding (Hive's
  * `ProxyLocalFileSystem`, registered for `file` by the Spark jars):
  * a rename onto an existing file is refused, not an overwrite. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  @annotation.nowarn("cat=deprecation")
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** `RawLocalFileSystem` whose `setPermission` applies the mode with
  * `Files.setPosixFilePermissions` (one chmod(2) on the same path, symlinks
  * followed as `chmod` does) instead of forking `chmod`. Modes with
  * setuid, setgid or sticky bits have no `PosixFilePermission` spelling
  * and keep Hadoop's own path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // values() runs owner r/w/x, group r/w/x, others r/w/x: bits 8..0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}
