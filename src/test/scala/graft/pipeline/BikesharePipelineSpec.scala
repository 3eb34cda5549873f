package graft.pipeline

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.TableChecksum
import graft.quality.QualityChecks

/** End-to-end: fixtures → all six star tables staged into the catalog →
  * quality gates → canned README-question queries answered off the
  * staged tables (the reference's analytical surface, README.md:56-63). */
class BikesharePipelineSpec extends SparkTestBase {

  private lazy val result = BikesharePipeline.run(
    spark, fixture("trips.csv"), fixture("weather.csv"), db = "graft_test")

  test("pipeline stages all six tables with expected cardinalities") {
    val counts = result.tables.map { case (k, v) => k -> v.count() }
    assert(counts("trip_fact") === 6)
    assert(counts("dim_station") === 4)
    assert(counts("dim_datetime") === 8784)
    assert(counts("weather_fact") === 7)
    assert(counts("weather_type") === 21)
    assert(counts("date_with_weather_type") === 11)
  }

  test("staged tables are catalog tables and re-runs are idempotent") {
    result // force first run
    val second = BikesharePipeline.run(
      spark, fixture("trips.csv"), fixture("weather.csv"), db = "graft_test")
    assert(second.tables("trip_fact").count() === 6)
    assert(spark.catalog.tableExists("graft_test.trip_fact"))
  }

  test("README question: monthly trip counts (A3 over the star)") {
    result
    val monthly = spark.table("graft_test.trip_fact")
      .groupBy(year(col("start_time")).as("y"), month(col("start_time")).as("m"))
      .agg(count(lit(1)).as("n"))
      .orderBy("y", "m")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(monthly.toSeq ===
      Seq((2020, 1, 3L), (2020, 2, 1L), (2020, 6, 1L), (2020, 12, 1L)))
  }

  test("README question: trips joined to weather types on date (J1+J3)") {
    result
    val withWeather = spark.table("graft_test.trip_fact")
      .join(
        spark.table("graft_test.date_with_weather_type"),
        to_date(col("start_time")) === to_date(col("date_time")))
      .join(spark.table("graft_test.weather_type"), "weather_type_id")
      .select("trip_id", "weather_type_id", "description")
    // per trip date: 01-01 {1,2}, 01-02 {1,3,8}, 02-29 {4,9},
    // 06-15 {3,8}, 12-31 {1,11}; the 01-03 trip has no weather types
    assert(withWeather.count() === 2 + 3 + 2 + 2 + 2)
  }

  test("quality gates fail on violations (strict ==0 nulls)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val emptyMsg = intercept[QualityChecks.QualityViolation] {
      QualityChecks.requireNonEmpty(empty, "empty_table")
    }.getMessage
    val withNull = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "v")
    val nullKey = withNull.withColumn(
      "id", when(col("v").isNull, lit(null)).otherwise(col("id")))
    val nullMsg = intercept[QualityChecks.QualityViolation] {
      QualityChecks.requireNoNullKeys(nullKey, "t", "id")
    }.getMessage
    QualityChecks.requireNoNullKeys(withNull, "t", "id") // clean key passes

    // the one-aggregate gate raises the same violations, word for word
    assert(intercept[QualityChecks.QualityViolation] {
      QualityChecks.requireLoaded(empty, "empty_table", "id")
    }.getMessage === emptyMsg)
    assert(intercept[QualityChecks.QualityViolation] {
      QualityChecks.requireLoaded(nullKey, "t", "id")
    }.getMessage === nullMsg)
    assert(QualityChecks.requireLoaded(withNull, "t", "id") === 3L)
  }

  /** Per table: row count and order-independent row-hash checksum. */
  private def checksums(tables: Map[String, DataFrame]): Map[String, Seq[Any]] =
    tables.map { case (n, df) =>
      n -> TableChecksum.checksum(df, TableChecksum.serialized(df.columns.toSeq.map(col)))
        .head().toSeq
    }

  test("two runs stage identical rows in all six tables, trip_id included") {
    result
    // fresh reads: an earlier re-run replaced the files `result` lists
    val first = checksums(BikesharePipeline.tableNames
      .map(n => n -> spark.table(s"graft_test.$n")).toMap)
    val second = checksums(BikesharePipeline.run(
      spark, fixture("trips.csv"), fixture("weather.csv"), db = "graft_test").tables)
    assert(second === first)
  }

  test("run issues no Spark job outside a SQL execution") {
    val outside = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
          outside.add(e.jobId)
    }
    val sc = spark.sparkContext
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      BikesharePipeline.run(
        spark, fixture("trips.csv"), fixture("weather.csv"), db = "graft_jobs")
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(outside.isEmpty, s"jobs outside a SQL execution: $outside")
  }
}
