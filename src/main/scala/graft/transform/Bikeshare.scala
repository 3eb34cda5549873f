package graft.transform

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The bikeshare ETL's transform surface (reference
  * dags/bikeshare_nyc/etl_script/etl.py) re-expressed as pure
  * DataFrame → DataFrame functions: no driver collect-bounces, no
  * per-month/per-column loops, deterministic surrogate keys
  * (SURVEY.md §2, §3.2, §7.5).
  *
  * Scale posture: every function here is a single declarative plan —
  * Catalyst pushes filters/pruning into the scan, the only shuffles are
  * the dedup/groupBy/window ones the semantics require, and nothing
  * materializes on the driver. At 100 TB the per-month loop of the
  * reference (etl.py:53) is replaced by one glob scan; dedups hash-
  * partition on the dedup key only.
  */
object Bikeshare {

  /** The Citi Bike trip CSV schema (FIXTURES.md §1), pinned: exactly
    * what `inferSchema` yields on the 2020 extract, so the read costs
    * neither a header job nor a full inference scan (SURVEY.md §2 S1). */
  val tripSchema: StructType = StructType.fromDDL(
    "tripduration INT, starttime TIMESTAMP, stoptime TIMESTAMP, " +
      "`start station id` INT, `start station name` STRING, " +
      "`start station latitude` DOUBLE, `start station longitude` DOUBLE, " +
      "`end station id` INT, `end station name` STRING, " +
      "`end station latitude` DOUBLE, `end station longitude` DOUBLE, " +
      "bikeid INT, usertype STRING, `birth year` INT, gender INT")

  /** The cleaning filter (etl.py:57-58): drop trips that are BOTH
    * same-station AND shorter than 300 s. coalesce(cond, false) keeps
    * rows where the predicate is NULL (null station id), matching EXCEPT
    * semantics (a null-predicate row never appears on the right side).
    */
  def keptTrips(trips: DataFrame): DataFrame =
    trips.filter(
      !coalesce(
        col("start station id") === col("end station id") &&
          col("tripduration") < 300,
        lit(false)))

  /** Trip cleaning (etl.py:57-58): [[keptTrips]] plus the dedup the
    * reference's `subtract` applies to survivors. Single-scan form:
    * negated filter + distinct — EXCEPT would scan and shuffle the
    * table twice for a subtracted set that is a subset of the left side.
    */
  def cleanTrips(trips: DataFrame): DataFrame = keptTrips(trips).distinct()

  /** Station dimension (etl.py:59-76,103): start-side ∪ end-side
    * projections, deduped by full row. Fixes the reference bug at
    * etl.py:103 where the union result is discarded and an empty
    * dim_station ships (SURVEY.md §7.5).
    *
    * Takes [[keptTrips]], not [[cleanTrips]]: distinct(project(distinct
    * x)) = distinct(project x), so the full-row dedup would only add a
    * shuffle. Both sides of a row come out of ONE pass (inline over a
    * two-struct array), so the trips are scanned once, not per side.
    */
  def stationDim(trips: DataFrame): DataFrame = {
    def side(prefix: String): Column =
      struct(
        col(s"$prefix station id").as("station_id"),
        col(s"$prefix station name").as("name"),
        col(s"$prefix station longitude").as("longitude"),
        col(s"$prefix station latitude").as("latitude"))
    trips
      .filter(col("bikeid").isNotNull)
      .select(inline(array(side("start"), side("end"))))
      .distinct()
  }

  /** Trip fact (etl.py:78-102): second-truncated timestamps and a
    * deterministic surrogate key. Replaces monotonically_increasing_id
    * (etl.py:91) with a dense row number over the FULL column set (a
    * total ordering — distinct cleaned rows differing only in usertype/
    * gender/birth_year must not tie, or the key is run-dependent),
    * computed scale-safe via [[graft.operators.SurrogateKey]]: range
    * partitioning + per-partition offsets, never a single-partition
    * global window (SURVEY.md §7.5 #2).
    */
  def tripFact(cleaned: DataFrame): DataFrame = {
    val projected = cleaned
      .select(
        col("tripduration").cast("int").as("duration"),
        date_trunc("second", to_timestamp(col("starttime"))).as("start_time"),
        date_trunc("second", to_timestamp(col("stoptime"))).as("end_time"),
        col("start station id").cast("int").as("start_station_id"),
        col("end station id").cast("int").as("end_station_id"),
        col("bikeid").cast("int").as("bikeid"),
        col("usertype").cast("string").as("usertype"),
        col("gender").cast("int").as("gender"),
        col("birth year").cast("int").as("birth_year"))
    graft.operators.SurrogateKey
      .denseRowNumber(
        projected, "trip_id",
        col("start_time"), col("bikeid"),
        col("start_station_id"), col("end_station_id"),
        col("duration"), col("end_time"), col("usertype"),
        col("gender"), col("birth_year"))
      .select("trip_id", "duration", "start_time", "end_time",
        "start_station_id", "end_station_id", "bikeid", "usertype",
        "gender", "birth_year")
  }

  /** Weather WT-flag unpivot (etl.py:107-118): wide flag columns →
    * (date_time, weather_type_id) bridge rows where the flag is "1";
    * the type id is parsed from the column name's numeric suffix
    * (etl.py:115). The reference's per-column driver loop + collect is
    * one native unpivot here — single scan, single shuffle-free pass.
    */
  def weatherTypeBridge(weather: DataFrame, flagCols: Seq[String]): DataFrame =
    weather
      .select(
        // flags cast to string: under schema inference an all-"1"/empty
        // column infers int while a padded "1 " infers string, and
        // unpivot requires one common value type
        (to_timestamp(col("DATE")).as("date_time") +:
          flagCols.map(c => col(c).cast("string").as(c))): _*)
      .unpivot(Array(col("date_time")), flagCols.map(c => col(c)).toArray,
        "wt_name", "flag")
      .filter(trim(col("flag")) === "1")
      .select(
        col("date_time"),
        substring(col("wt_name"), 3, 2).cast("int").as("weather_type_id"))
      .distinct()

  /** Weather fact (etl.py:169-177): measures cast to double, deduped. */
  def weatherFact(weather: DataFrame): DataFrame =
    weather
      .select(
        to_timestamp(col("DATE")).as("date_time"),
        col("PRCP").cast("double").as("prcp"),
        col("SNOW").cast("double").as("snow"),
        col("SNWD").cast("double").as("snwd"),
        col("TAVG").cast("double").as("tavg"),
        col("TMAX").cast("double").as("tmax"),
        col("TMIN").cast("double").as("tmin"))
      .dropDuplicates()

  /** The default WT flag columns present in the NOAA 2020 NYC extract
    * (FIXTURES.md §2). */
  val defaultFlagCols: Seq[String] =
    Seq("WT01", "WT02", "WT03", "WT04", "WT05", "WT06", "WT08", "WT09", "WT11")
}

/** Raw-CSV ingest options kept from the reference (etl.py:54-56,122-124);
  * engine-proper reads parquet (SURVEY.md §1.3). */
object CsvIngest {
  /** Trip CSV (S1): header + explicit schema, or inference when no
    * schema is supplied. With a schema the read issues no job at all
    * (no inferSchema double-scan), and `enforceSchema=false` checks each
    * file's header against the schema's field names: a file whose
    * columns are renamed or reordered fails its scan instead of binding
    * values by position. */
  def csv(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s =>
      r.option("enforceSchema", "false").schema(s)).csv(path)
  }

  /** String-typed CSV (S2, etl.py:122-124): header only, every column
    * StringType, casts pushed to the consuming transform. Required for
    * the weather path: inference would coerce the WT flag columns
    * ("1"/"1 "/empty) to numerics and corrupt the trim-match. */
  def csvStringTyped(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
}
