package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Overlap
import graft.quality.QualityChecks
import graft.transform.{Bikeshare, CsvIngest, DatetimeSpine}
import graft.queries.WeatherTypeCatalog
import graft.warehouse.Warehouse

/** The reference's whole DAG as one Spark program (SURVEY.md §3.1
  * "ours"): ingest trip + weather CSVs, run every transform, gate on
  * data quality, and stage the six star-schema tables into the
  * warehouse catalog. Replaces etl_dag.py's acquire→EMR→COPY→probe
  * choreography (etl_dag.py:286-293) with a single declarative plan per
  * output table; the only process boundary left is Spark's own
  * driver→executor split.
  *
  * Quality gates run where the reference ran them — after load, on the
  * two fact tables (etl_dag.py:273-284) — with the strict ==0 null
  * semantics (SURVEY.md §7.5).
  */
object BikesharePipeline {

  final case class Result(tables: Map[String, DataFrame])

  val tableNames: Seq[String] = Seq(
    "trip_fact", "dim_station", "dim_datetime",
    "weather_fact", "weather_type", "date_with_weather_type")

  /** Build all six tables (no writes). The trips are read with the
    * pinned [[Bikeshare.tripSchema]], so building issues no Spark job. */
  def build(
      spark: SparkSession,
      tripCsvPath: String,
      weatherCsvPath: String): Map[String, DataFrame] = {
    val trips = CsvIngest.csv(spark, tripCsvPath, Some(Bikeshare.tripSchema))
    val weather = CsvIngest.csvStringTyped(spark, weatherCsvPath)

    val flagCols =
      Bikeshare.defaultFlagCols.filter(weather.columns.contains)

    Map(
      "trip_fact" -> Bikeshare.tripFact(Bikeshare.cleanTrips(trips)),
      "dim_station" -> Bikeshare.stationDim(Bikeshare.keptTrips(trips)),
      "dim_datetime" -> DatetimeSpine.hourly(spark, "2020-01-01", "2021-01-01"),
      "weather_fact" -> Bikeshare.weatherFact(weather),
      "weather_type" -> WeatherTypeCatalog.df(spark),
      "date_with_weather_type" -> Bikeshare.weatherTypeBridge(weather, flagCols))
  }

  /** Build, stage into `db`, and run the quality gates on the staged
    * tables (reference order: load, then verify).
    *
    * The six stagings are independent, like the reference DAG's six
    * DELETE-then-COPY tasks (etl_dag.py:219-271), so they run
    * concurrently through [[graft.operators.Overlap]]: the wall is
    * trip_fact's surrogate-key chain, not the sum of all six. Every
    * staging has settled before `run` returns or throws; on failure the
    * error surfaced is that of the first failed table in [[tableNames]]
    * order. A failed run may leave the other tables staged; a re-run
    * replaces them all. */
  def run(
      spark: SparkSession,
      tripCsvPath: String,
      weatherCsvPath: String,
      db: String = "graft"): Result = {
    Warehouse.createDatabase(spark, db)
    val built = build(spark, tripCsvPath, weatherCsvPath)
    Overlap.all(spark)(tableNames.map(n =>
      () => Warehouse.stage(built(n), s"$db.$n")): _*)

    val staged = tableNames.map(n => n -> spark.table(s"$db.$n")).toMap
    QualityChecks.requireLoaded(staged("trip_fact"), "trip_fact", "trip_id")
    QualityChecks.requireLoaded(staged("weather_fact"), "weather_fact", "date_time")
    Result(staged)
  }
}
