package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Golden tests for the bikeshare transforms over the in-repo CSV
  * fixtures (FIXTURES.md §1-2 schemas; edge cases per its fixture
  * spec: same-station short trip, 300s boundary, duplicate rows, null
  * birth year, trailing-space WT flag, duplicate station-day). */
class BikeshareSpec extends SparkTestBase {

  private lazy val trips: DataFrame =
    CsvIngest.csv(spark, fixture("trips.csv"), Some(Bikeshare.tripSchema))
  private lazy val weather: DataFrame =
    CsvIngest.csvStringTyped(spark, fixture("weather.csv"))
  private lazy val cleaned: DataFrame = Bikeshare.cleanTrips(trips)

  test("cleanTrips drops same-station short trips and dedups (etl.py:58)") {
    // 10 raw rows: -2 same-station <300s, -1 exact duplicate, 300s kept
    assert(trips.count() === 10)
    assert(cleaned.count() === 6)
    val durations = cleaned.select("tripduration").collect().map(_.getInt(0)).sorted
    assert(durations === Array(200, 300, 450, 600, 1800, 3600))
    // the 300-second same-station trip survives (predicate is strict <)
    assert(cleaned.filter(col("tripduration") === 300).count() === 1)
  }

  test("tripSchema is exactly the schema inference yields (FIXTURES.md §1)") {
    assert(Bikeshare.tripSchema === CsvIngest.csv(spark, fixture("trips.csv")).schema)
  }

  test("pinned read fails on a CSV whose header differs from the schema") {
    // the fixture with its start and end station ids swapped, header
    // AND values: a positional bind would silently swap the two sides
    val lines = scala.util.Using.resource(
      scala.io.Source.fromFile(fixture("trips.csv")))(_.getLines().toList)
    val header = lines.head.split(",", -1)
    val (i, j) = (header.indexOf("start station id"), header.indexOf("end station id"))
    def swap(line: String): String = {
      val f = line.split(",", -1)
      f.updated(i, f(j)).updated(j, f(i)).mkString(",")
    }
    val dir = new java.io.File("target/test_swapped_trips")
    dir.mkdirs()
    val path = new java.io.File(dir, "trips.csv").toPath
    java.nio.file.Files.write(path, lines.map(swap).mkString("\n").getBytes("UTF-8"))
    val e = intercept[Exception] {
      CsvIngest.csv(spark, path.toString, Some(Bikeshare.tripSchema)).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString("\n")
    assert(messages.contains("does not conform to the schema"), messages)
  }

  test("single-scan stationDim over keptTrips equals the union over cleanTrips") {
    def side(prefix: String): DataFrame =
      cleaned
        .filter(col("bikeid").isNotNull)
        .select(
          col(s"$prefix station id").as("station_id"),
          col(s"$prefix station name").as("name"),
          col(s"$prefix station longitude").as("longitude"),
          col(s"$prefix station latitude").as("latitude"))
    val unionForm = side("start").union(side("end")).distinct()
    val singleScan = Bikeshare.stationDim(Bikeshare.keptTrips(trips))
    assert(singleScan.schema.map(f => f.name -> f.dataType) ===
      unionForm.schema.map(f => f.name -> f.dataType))
    assert(singleScan.collect().toSet === unionForm.collect().toSet)
    assert(singleScan.count() === unionForm.count())
  }

  test("stationDim unions both sides and dedups (fixes etl.py:103 bug)") {
    val dim = Bikeshare.stationDim(Bikeshare.keptTrips(trips))
    assert(dim.columns.toSeq ===
      Seq("station_id", "name", "longitude", "latitude"))
    val ids = dim.select("station_id").collect().map(_.getInt(0)).sorted
    assert(ids === Array(101, 102, 103, 104))
  }

  test("tripFact assigns dense deterministic trip_ids in natural order") {
    val fact = Bikeshare.tripFact(cleaned)
    assert(fact.columns.toSeq === Seq("trip_id", "duration", "start_time",
      "end_time", "start_station_id", "end_station_id", "bikeid",
      "usertype", "gender", "birth_year"))
    val rows = fact.orderBy("trip_id")
      .select("trip_id", "duration", "start_station_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // ordered by start_time: 600s@01-01, 300s@01-02, 450s@01-03,
    // 1800s@02-29, 3600s@06-15, 200s@12-31
    assert(rows.map(_.getInt(1)).toSeq === Seq(600, 300, 450, 1800, 3600, 200))
    // re-run must assign identical ids (deterministic surrogate key)
    val again = Bikeshare.tripFact(cleaned)
      .orderBy("trip_id").select("trip_id", "duration").collect()
    assert(again.map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      rows.map(r => (r.getLong(0), r.getInt(1))).toSeq)
  }

  test("tripFact truncates timestamps to seconds and keeps null birth years") {
    val fact = Bikeshare.tripFact(cleaned)
    val first = fact.orderBy("trip_id").select("start_time").head.getTimestamp(0)
    assert(first.toString === "2020-01-01 01:00:00.0")
    // null birth year row was same-station-short (dropped); nullability
    // still round-trips through the int cast
    assert(fact.schema("birth_year").nullable)
  }

  test("weatherTypeBridge unpivots flags with trim + suffix parse (F9/X9)") {
    val bridge = Bikeshare.weatherTypeBridge(weather, Bikeshare.defaultFlagCols)
    assert(bridge.columns.toSeq === Seq("date_time", "weather_type_id"))
    assert(bridge.count() === 11)
    // trailing-space flag "1 " on WT02 must match via trim
    val jan1 = bridge
      .filter(col("date_time") === to_timestamp(lit("2020-01-01")))
      .select("weather_type_id").collect().map(_.getInt(0)).sorted
    assert(jan1 === Array(1, 2))
    val feb29 = bridge
      .filter(col("date_time") === to_timestamp(lit("2020-02-29")))
      .select("weather_type_id").collect().map(_.getInt(0)).sorted
    assert(feb29 === Array(4, 9))
  }

  test("weatherFact casts measures, keeps nulls, dedups station-days (F8)") {
    val fact = Bikeshare.weatherFact(weather)
    assert(fact.columns.toSeq ===
      Seq("date_time", "prcp", "snow", "snwd", "tavg", "tmax", "tmin"))
    assert(fact.count() === 7) // 8 rows - 1 duplicate station-day
    val allNull = fact.filter(
      col("date_time") === to_timestamp(lit("2020-01-03")))
    assert(allNull.count() === 1)
    assert(allNull.head.isNullAt(1)) // prcp null survives the cast
    // flag columns are dropped by the projection
    assert(!fact.columns.contains("WT01"))
  }
}
