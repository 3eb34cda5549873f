package graft.warehouse

import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SaveMode, SparkSession}

/** The warehouse side of the reference, Spark-native: the engine's
  * tables ARE Spark catalog tables over parquet — there is no COPY hop.
  *
  * Reference semantics mapped (SURVEY.md §2.1):
  *  - S3 CSV append sink (etl.py:101-102)        → [[append]]
  *  - S4 CSV overwrite sink (etl.py:105,178-180) → [[overwrite]]
  *  - S8 DELETE + COPY staging
  *    (stage_redshift.py:34-48)                  → [[stage]] (overwrite
  *    saveAsTable — atomic replace, idempotent re-runs like
  *    DELETE-before-COPY)
  *  - S9 DDL, DROP/CREATE IF [NOT] EXISTS ×6
  *    (dags/sql/create_tables.sql:1-56,
  *    drop_tables.sql:1-6)                       → [[createDatabase]] /
  *    [[dropTable]] / catalog-managed tables
  *
  * Scale notes: writers are plain distributed parquet writes (one file
  * per task — no coalesce(1) funnels); `partitionBy` is exposed so
  * facts can lay out by their pruning key (the reference's per-month
  * file naming, done properly); overwrite of a partitioned table with
  * dynamic partition overwrite only rewrites touched partitions.
  *
  * Stored format: the stagings ([[stage]], [[stageBucketed]],
  * [[stageSorted]]) write INT64 TIMESTAMP(MICROS) timestamps on parquet
  * v2 data pages ([[StoredFormat]]); [[append]] and [[overwrite]] keep
  * the session's INT96 timestamps and v1 pages, because DuckDB reads
  * their outputs.
  */
object Warehouse {

  /** S3: append rows to a parquet path (optionally partitioned). */
  def append(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S4: overwrite a parquet path. */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** S8: stage a DataFrame as a catalog table (DELETE+COPY ≡ atomic
    * overwrite). Qualified name, e.g. "graft.trip_fact".
    *
    * The DELETE half is literal: drop any existing catalog entry AND
    * remove an orphaned managed location (an in-memory catalog forgets
    * tables between sessions while their files survive, and Spark
    * refuses to create a managed table over a non-empty location).
    * This is what makes re-runs idempotent, like the reference's
    * DELETE-before-COPY (stage_redshift.py:38). The table is written
    * in the [[StoredFormat]]. */
  def stage(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    dropTable(df.sparkSession, table)
    val w = staged(df).write.mode(SaveMode.Overwrite).format("parquet")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(table)
  }

  /** S8 variant: stage bucketed+sorted on the join key — the shuffle
    * is paid once at write time; subsequent equi-joins between tables
    * bucketed the same way need no exchange on either side. */
  def stageBucketed(
      df: DataFrame, table: String, bucketKey: String, buckets: Int): Unit = {
    dropTable(df.sparkSession, table)
    staged(df).write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .saveAsTable(table)
  }

  /** Stage sorted by the expected filter key: parquet stores per-row-
    * group min/max stats, so sorting clusters key ranges and lets scans
    * with a key predicate skip whole row groups — the lightweight
    * single-column cousin of Z-ordering. Pair with [[stageBucketed]]
    * when the key is also the join key. */
  def stageSorted(
      df: DataFrame, table: String, sortKey: String): Unit = {
    dropTable(df.sparkSession, table)
    staged(df).repartitionByRange(org.apache.spark.sql.functions.col(sortKey))
      .sortWithinPartitions(sortKey)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(table)
  }

  /** The stored format of every staged table, as session settings:
    * timestamps as INT64 TIMESTAMP(MICROS) instead of the legacy INT96
    * (less than half the bytes of a timestamp column, and min/max
    * statistics a `start_time` range filter can prune row groups with,
    * which INT96 has none of), and parquet v2 data pages (integer
    * columns delta- or dictionary-coded: a sequential key column stores
    * in a few hundred bytes instead of 8 bytes a row).
    *
    * The timestamp type cannot be a per-write option — the session's
    * `outputTimestampType` overrides one — so the stagings write through
    * a clone of the caller's session that carries these settings
    * ([[staged]]); the caller's conf is left as it was. The plain path
    * writers [[append]] and [[overwrite]], and with them the query
    * sinks, keep the session's INT96 and v1 pages: DuckDB 1.0 reads
    * Spark's INT64 UTC timestamps as `TIMESTAMP WITH TIME ZONE`, which
    * prints `2020-01-01 00:05:00+00:00` where INT96 prints
    * `2020-01-01 00:05:00`, so a sink output read by DuckDB would
    * change every oracle hash over a timestamp column. */
  val StoredFormat: Map[String, String] = Map(
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "parquet.writer.version" -> "v2")

  /** `df` rebound onto a staging session: a clone of its session,
    * taken per staging (so it carries the query-execution listeners
    * registered by then), with [[StoredFormat]] set. The clone shares
    * the catalog, so the staged table is visible to the caller. */
  private def staged(df: DataFrame): DataFrame = {
    val spark = GraftSqlInternals.cloneSession(df.sparkSession)
    StoredFormat.foreach { case (k, v) => spark.conf.set(k, v) }
    GraftSqlInternals.rebind(spark, df)
  }

  /** Upsert / MERGE semantics (SCD-1, updates win) without a
    * transactional table format: union the update set over the base and
    * keep one row per key with update precedence. This is the
    * reference's DELETE-then-INSERT-SELECT load operator family
    * (plugins/build/lib/airflow_custom_operators/load_fact.py:21-29,
    * load_dimension.py:21-29) expressed as one declarative plan — a
    * per-key shuffle, no row-by-row mutation. `order` breaks ties among
    * duplicate keys WITHIN a side (pass the natural key or a version
    * column); updates always beat base rows for the same key.
    */
  def upsert(
      base: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      order: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val tagged = updates.withColumn("graft__prec", lit(1))
      .unionByName(base.withColumn("graft__prec", lit(0)))
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("graft__prec").desc +: order.map(c => col(c).desc): _*)
    tagged
      .withColumn("graft__rn", row_number().over(w))
      .filter(col("graft__rn") === 1)
      .drop("graft__prec", "graft__rn")
  }

  /** SCD type-2 merge: history-keeping upsert for dimension tables
    * (`upsert` above is type 1 — last write wins, history lost). `base`
    * carries validity columns (`valid_from`, `valid_to` with NULL =
    * current); `updates` carries the same business columns plus its own
    * `valid_from` (the effective timestamp). Each update CLOSES the
    * key's current row (valid_to := update's valid_from) and appends
    * itself as the new open row; already-closed history passes through
    * untouched, so the merge is repeatable batch over batch.
    *
    * Scale shape: one equi-join of the OPEN slice against the update
    * keys plus a union — no window over key history, so cost tracks the
    * update batch, not the accumulated history. Updates are assumed
    * unique per key per batch (one effective version per batch —
    * pre-dedup with `upsert` order semantics if a feed can carry
    * several).
    */
  def scd2Merge(
      base: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val open = base.filter(col("valid_to").isNull)
    val closedHistory = base.filter(col("valid_to").isNotNull)
    val closers = updates
      .select(keyCols.map(col) :+ col("valid_from").as("graft__close_ts"): _*)
    val newlyClosed = open
      .join(closers, keyCols, "left")
      .withColumn("valid_to",
        when(col("graft__close_ts").isNotNull, col("graft__close_ts")))
      .drop("graft__close_ts")
    closedHistory
      .unionByName(newlyClosed)
      .unionByName(
        updates.withColumn("valid_to", lit(null).cast("timestamp")))
  }

  /** CDC apply: merge an ordered change log (op ∈ {I,U,D} + a per-key
    * monotone sequence column) onto a snapshot — the Debezium-style
    * change-stream landing every warehouse ingests. Log compaction
    * first: ONE agg-shaped max-struct per key over the LOG (log-sized
    * work, no window over the snapshot), so a key that saw
    * U@3,D@5,I@9 within the batch resolves to its latest op before the
    * snapshot is touched. Then one full-outer equi-join of the
    * compacted log against the base: latest op D drops the key, latest
    * I/U replaces the payload, untouched base keys pass through. New
    * keys arrive via I (or U — upsert-tolerant, like MERGE).
    *
    * Scale shape: compaction shuffles only the change batch; the apply
    * join shuffles on the key (co-located and exchange-free when the
    * base is bucketed on the key, s10 discipline). No per-row mutation,
    * no history window. `seqCol` must order a key's changes totally
    * within the batch (CDC LSN/offset semantics); ties would resolve by
    * the struct's op/payload ordering, so feed real sequence numbers.
    */
  def cdcApply(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val payload = base.columns.filterNot(keyCols.contains).toSeq
    // argmax by seq: max(struct(seq, op, payload...)) — agg-shaped with
    // map-side partials, never a per-key window over the log
    val latest = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(
        (col(seqCol) +: col(opCol) +: payload.map(col)): _*)).as("graft__c"))
      .select(
        keyCols.map(col) ++
          Seq(col(s"graft__c.$opCol").as("graft__op")) ++
          payload.map(c => col(s"graft__c.$c").as(s"graft__u_$c")): _*)
    base
      .join(latest, keyCols, "full_outer")
      .filter(col("graft__op").isNull || col("graft__op") =!= "D")
      .select(
        keyCols.map(col) ++ payload.map(c =>
          when(col("graft__op").isNotNull, col(s"graft__u_$c"))
            .otherwise(col(c)).as(c)): _*)
  }

  /** Zone-map manifest over a written parquet path: one row per FILE
    * with the min/max of the clustering key — the file-skipping index
    * Delta/Iceberg keep in their transaction log, materialized here as
    * a queryable table. Built in one narrow scan (key + `_metadata
    * .file_path`); on a range-clustered layout ([[stageSorted]]'s
    * repartitionByRange discipline) file envelopes are disjoint, so a
    * point/range predicate maps to a handful of files.
    */
  def zoneMapManifest(
      spark: SparkSession, path: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .select(col(keyCol), col("_metadata.file_path").as("file"))
      .groupBy(col("file"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
  }

  /** Manifest-pruned range read: consult the zone-map FIRST (a
    * file-count-sized metadata relation — the collect here is the same
    * plan-time derivation as the s23 probe set), then scan only the
    * files whose [lo, hi] envelope overlaps the predicate. The
    * predicate is still applied after the scan — the manifest may
    * over-approximate, never under. */
  def zoneMapRead(
      spark: SparkSession,
      path: String,
      manifest: DataFrame,
      keyCol: String,
      lo: Long,
      hi: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = manifest
      .filter(col("hi") >= lo && col("lo") <= hi)
      .select(col("file"))
      .collect().map(_.getString(0))
    val base =
      if (files.isEmpty)
        spark.read.parquet(path).limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol).between(lo, hi))
  }

  /** Per-file Bloom manifest — file skipping for POINT probes on a key
    * the layout is NOT clustered by. Zone maps (s38) need disjoint
    * per-file envelopes, which only the clustering key has; every other
    * high-cardinality column spans the full value range in every file,
    * so its zone map prunes nothing. A per-file Bloom filter over that
    * column (the Parquet bloom_filter / Delta file-stats idea) still
    * prunes to ~1 file for a needle lookup: built in one narrow scan
    * (key + `_metadata.file_path`), one bounded [[graft.functions
    * .BloomFilterAgg]] per file, false positives re-verified by the
    * pushed predicate after the scan — never false negatives. */
  def bloomManifest(
      spark: SparkSession, path: String, keyCol: String,
      numBits: Int, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .select(col(keyCol), col("_metadata.file_path").as("file"))
      .groupBy(col("file"))
      .agg(expr(s"graft_bloom($keyCol, $numBits, $numHashes)").as("bloom"))
  }

  /** Manifest-pruned point read: probe every file's Bloom (a file-count
    * relation — the same plan-time metadata derivation as [[zoneMapRead]]),
    * scan only might-contain files, re-verify exactly. */
  def bloomPointRead(
      spark: SparkSession,
      path: String,
      manifest: DataFrame,
      keyCol: String,
      key: Long,
      numBits: Int,
      numHashes: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = manifest
      .filter(expr(s"graft_bloom_contains(bloom, ${key}L, $numBits, $numHashes)"))
      .select(col("file"))
      .collect().map(_.getString(0))
    val base =
      if (files.isEmpty)
        spark.read.parquet(path).limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol) === key)
  }

  /** S9: CREATE DATABASE IF NOT EXISTS. */
  def createDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  /** S9: DROP TABLE IF EXISTS (drop_tables.sql semantics) — including
    * an orphaned managed location left by a previous session (the
    * in-memory catalog forgets the entry, DROP is then a no-op, and a
    * later CREATE refuses the non-empty directory). */
  def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Retention vacuum over a partitioned parquet path: physically
    * delete every partition directory whose `partitionCol` value sorts
    * BELOW `keepFrom` (ISO dates compare correctly as strings) and
    * return how many partitions were removed. This is the lifecycle
    * op behind every data-retention policy ("keep 90 days"): the
    * delete is a metadata-sized directory walk — no data is read, no
    * job runs — and every later scan of the path is smaller by
    * construction, with no tombstone filtering on the read path.
    * Irreversible by design; production deployments snapshot first. */
  def retentionVacuum(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      keepFrom: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0L
    val prefix = s"$partitionCol="
    // Spark URI-escapes partition values on write (':' in timestamps,
    // spaces, '%'); compare the UNESCAPED value or anything that
    // escapes would sort wrong. Null partitions materialize as the
    // Hive default-partition sentinel — they carry no date, so the
    // retention predicate cannot classify them; keep them (a policy
    // that drops nulls must say so explicitly, not by string luck).
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map { st =>
        val raw = st.getPath.getName.stripPrefix(prefix)
        val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(raw)
        (st.getPath, value)
      }
      .filter { case (_, value) =>
        value != "__HIVE_DEFAULT_PARTITION__" && value < keepFrom
      }
      .map { case (dir, _) => fs.delete(dir, true); 1L }
      .sum
  }

  /** S9: declarative CREATE TABLE ... USING PARQUET (create_tables.sql
    * semantics — schema-first, idempotent). */
  def createTable(
      spark: SparkSession, table: String, ddlSchema: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val part =
      if (partitionBy.nonEmpty) partitionBy.mkString(" PARTITIONED BY (", ", ", ")")
      else ""
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table ($ddlSchema) USING PARQUET$part")
  }
}
