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
  *
  * - the task scheduler runs in FAIR mode. Under Spark's default FIFO
  *   mode a freed core goes to the oldest queued stage, so in an
  *   `graft.operators.Overlap` fan-out a branch made of many small
  *   dependent jobs (a layout build's adaptive stages, commit writes)
  *   waits behind the other branches' bulk stages. Each `Overlap` task
  *   runs its jobs in a pool of its own, so a freed core goes to the
  *   pool with the fewest running tasks (Zaharia et al., Delay
  *   Scheduling, EuroSys 2010): perfbench `corpus_maintain` set-up, the
  *   six-layout fixture build, 12.1 → 10.3 s median over ten
  *   order-alternated pairs on a 4-core VM. Spark creates a pool on
  *   first use and never drops it, so `Overlap` names its pools from a
  *   bounded set of slots, reused as tasks end. Jobs of a caller's own
  *   thread set no pool and run in `default`; plans, job counts and
  *   results are unchanged, only which queued stage gets a freed core.
  *
  * Three driver-side retainers are stopped, because a long-lived session
  * serves call after call and nothing reads what they keep:
  * - the status store keeps [[RetainedStatusEntries]] finished jobs,
  *   stages and SQL executions (Spark keeps 1,000 of each by default;
  *   about 4 MiB of a serving session's retained heap). The UI is off
  *   and nothing in the engine reads a finished job from the store —
  *   the ledger and the benchmark count through listeners of their own.
  *   Running jobs are never evicted, so `statusTracker.getActiveJobIds`
  *   is unchanged.
  * - the file-status cache is off
  *   (`spark.sql.hive.filesourcePartitionFileCacheSize` = 0). Every path
  *   read files its listing under a new client id that no later read
  *   asks for, so entries only left at the cache's 250 MB bound. This
  *   relies on no partitioned catalog table being read twice through one
  *   index, where the cache would save a re-listing (s13 stages one and
  *   reads it once).
  * - the idle threads of Spark's six exchange, subquery and stage pools
  *   ([[org.apache.spark.sql.execution.GraftExchangePools]]) and of
  *   `graft.operators.Overlap`'s pool exit after [[IdleThreadKeepAliveMs]]
  *   instead of 60 s; each pool thread held about 14 KB of thread-local
  *   buffers, and a serving session kept about 300 of them. Spark's
  *   pools start a thread per submission up to their cap either way
  *   (core size = cap, unbounded queue), so this adds no thread start
  *   below the cap; it relies on the caps staying Spark's
  *   (`spark.sql.*.maxThreadThreshold`). Lower caps deadlock: a query's
  *   pool thread waits on its subquery, whose stages queue behind it in
  *   the same pool.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Finished jobs, stages and SQL executions the status store keeps. */
  val RetainedStatusEntries = 1

  /** How long an idle driver pool thread lives before it exits. */
  val IdleThreadKeepAliveMs = 1000L

  def local(threads: String = cpus, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
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
      .config("spark.ui.retainedJobs", RetainedStatusEntries)
      .config("spark.ui.retainedStages", RetainedStatusEntries)
      .config("spark.sql.ui.retainedExecutions", RetainedStatusEntries)
      .config("spark.sql.hive.filesourcePartitionFileCacheSize", 0)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    org.apache.spark.sql.execution.GraftExchangePools.setKeepAlive(IdleThreadKeepAliveMs)
    spark
  }
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
