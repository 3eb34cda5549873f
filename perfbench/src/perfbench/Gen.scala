package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Each one tallies, while it emits rows, the
  * answers the engine must return on those rows; no engine code computes
  * an expectation. */
object Gen {
  val Year = 2020
  val Days = 366 // 2020 is a leap year
  val DayS = 86400L
  val YearStartS: Long =
    LocalDate.of(Year, 1, 1).atStartOfDay.toEpochSecond(ZoneOffset.UTC)

  // stated shares of the trip stream (FIXTURES.md §1 edge cases)
  val DupShare = 0.01          // exact-duplicate CSV rows
  val ShortSameShare = 0.02    // same-station trips under 300 s (dropped)
  val LongSameShare = 0.01     // same-station trips of 300 s or more (kept)
  val NullBirthShare = 0.05    // empty `birth year`
  val Stations = 800
  val WeatherStations = 112

  /** Month weights: a summer-peaked season, as in 2020 Citi Bike. */
  private val monthWeight =
    Array(0.55, 0.6, 0.5, 0.45, 0.9, 1.2, 1.4, 1.55, 1.5, 1.35, 1.0, 0.7)

  private def monthOfDay(d: Int): Int =
    LocalDate.ofEpochDay(LocalDate.of(Year, 1, 1).toEpochDay + d).getMonthValue

  private def dayDate(d: Int): LocalDate =
    LocalDate.ofEpochDay(LocalDate.of(Year, 1, 1).toEpochDay + d)

  /** Per-day tallies of the kept (cleaned, deduplicated) trips; every
    * `Analytics` answer over any day-aligned window is a sum of these. */
  final class TripTally(val stationIds: Array[Int]) {
    val perDay = new Array[Long](Days)
    val perDayGender = Array.ofDim[Long](Days, 3)
    val perDayDuration = new Array[Long](Days)
    val perDayStation = Array.ofDim[Long](Days, stationIds.length)
    val stationSeen = new Array[Boolean](stationIds.length)
    var keptTrips = 0L
    var csvRows = 0L
  }

  /** Expected `Analytics` answers over the days `[d0, d1)`. */
  final case class Answers(
      monthly: Map[(Int, Int), Long],
      gender: Map[Int, Long],
      rideHours: Map[Int, Double],
      topMonth: (Int, Int, Long),
      byWeatherType: Map[Int, Long],
      perStation: Map[Int, Long])

  final case class WeatherTally(
      factRows: Long,
      bridge: Set[(Int, Int)]) // (day, weather_type_id)

  final case class EtlInput(
      tripDir: String, weatherCsv: String, csvBytes: Long,
      trips: TripTally, weather: WeatherTally) {
    def expectedCounts: Map[String, Long] = Map(
      "trip_fact" -> trips.keptTrips,
      "dim_station" -> trips.stationSeen.count(identity).toLong,
      "dim_datetime" -> Days * 24L,
      "weather_fact" -> weather.factRows,
      // the GHCN-Daily WT catalog the star schema carries: WT01..WT22
      // without WT20 (etl.py:142-163)
      "weather_type" -> 21L,
      "date_with_weather_type" -> weather.bridge.size.toLong)

    def answers(d0: Int, d1: Int): Answers = {
      val t = trips
      val days = d0 until d1
      val monthly = days.groupBy(monthOfDay).map { case (m, ds) =>
        (Year, m) -> ds.map(t.perDay(_)).sum
      }.filter(_._2 > 0)
      val gender = (0 until 3).map(g => g -> days.map(t.perDayGender(_)(g)).sum)
        .filter(_._2 > 0).toMap
      val durSum = days.map(t.perDayDuration(_)).sum
      val hours = if (days.exists(t.perDay(_) > 0)) Map(Year -> durSum / 3600.0)
        else Map.empty[Int, Double]
      val top = monthly.toSeq
        .sortBy { case ((y, m), n) => (-n, y, m) }
        .headOption.map { case ((y, m), n) => (y, m, n) }.orNull
      val typesByDay = weather.bridge.groupBy(_._1)
      val byType = mutable.Map.empty[Int, Long].withDefaultValue(0L)
      days.foreach { d =>
        typesByDay.getOrElse(d, Set.empty).foreach { case (_, wt) =>
          byType(wt) += t.perDay(d)
        }
      }
      val perStation = t.stationIds.indices.map { s =>
        t.stationIds(s) -> days.map(t.perDayStation(_)(s)).sum
      }.filter(_._2 > 0).toMap
      Answers(monthly, gender, hours, top,
        byType.filter(_._2 > 0).toMap, perStation)
    }
  }

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)

  private def q(s: String): String = "\"" + s + "\""

  private val ts = new java.lang.StringBuilder

  /** `yyyy-MM-dd HH:mm:ss.ffff` for an instant in 1/10000 s. */
  private def stamp(tenthMs: Long): String = {
    val s = Math.floorDiv(tenthMs, 10000L)
    val frac = Math.floorMod(tenthMs, 10000L)
    val dt = java.time.LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC)
    ts.setLength(0)
    ts.append(dt.toLocalDate.toString).append(' ')
    def two(i: Int): Unit = { if (i < 10) ts.append('0'); ts.append(i) }
    two(dt.getHour); ts.append(':'); two(dt.getMinute); ts.append(':')
    two(dt.getSecond); ts.append('.')
    val f = frac.toString
    ts.append("0000", 0, 4 - f.length).append(f)
    ts.toString
  }

  /** Twelve monthly Citi Bike trip CSVs (2020 pre-Lyft schema, fully
    * quoted, header names with spaces) plus a year of NOAA GHCN-Daily
    * weather for 112 stations, both under `dir`. */
  def etlInput(dir: File, seed: Long, trips: Int): EtlInput = {
    val rnd = new Random(seed)
    val tripDir = new File(dir, "trips")
    tripDir.mkdirs()
    val stationIds = rnd.shuffle((72 to 4200).toVector).take(Stations).sorted.toArray
    def coord(x: Double): String = q("%.8f".formatLocal(java.util.Locale.ROOT, x))
    val lat = Array.fill(Stations)(coord(40.65 + rnd.nextDouble() * 0.2))
    val lon = Array.fill(Stations)(coord(-74.02 + rnd.nextDouble() * 0.12))
    val names = stationIds.indices.map(i =>
      s"${stationIds(i)} St & ${(rnd.nextInt(26) + 'A').toChar} Ave").toArray
    // Zipf-like station popularity
    val cum = {
      val w = Array.tabulate(Stations)(i => 1.0 / math.pow(i + 1, 0.6))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def station(): Int = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Stations - 1)
    }
    // trips per day: month weight, spread evenly over the month's days
    val dayW = Array.tabulate(Days)(d => monthWeight(monthOfDay(d) - 1))
    val dayCum = { val c = dayW.scanLeft(0.0)(_ + _).tail; c.map(_ / c.last) }
    val perDayN = new Array[Int](Days)
    (0 until trips).foreach { _ =>
      val i = java.util.Arrays.binarySearch(dayCum, rnd.nextDouble())
      perDayN(math.min(if (i >= 0) i else -i - 1, Days - 1)) += 1
    }
    val t = new TripTally(stationIds)
    val header = Seq("tripduration", "starttime", "stoptime",
      "start station id", "start station name", "start station latitude",
      "start station longitude", "end station id", "end station name",
      "end station latitude", "end station longitude", "bikeid", "usertype",
      "birth year", "gender").map(q).mkString(",")
    var bytes = 0L
    var month = 0
    var out: BufferedWriter = null
    val line = new java.lang.StringBuilder
    (0 until Days).foreach { d =>
      val m = monthOfDay(d)
      if (m != month) {
        if (out != null) out.close()
        month = m
        out = writer(new File(tripDir, f"$Year$m%02d-citibike-tripdata.csv"))
        out.write(header); out.write('\n')
      }
      // distinct start instants within the day: sorted, collisions bumped
      val n = perDayN(d)
      val starts = Array.fill(n)((rnd.nextDouble() * DayS * 10000).toLong)
      java.util.Arrays.sort(starts)
      var k = 1
      while (k < n) { if (starts(k) <= starts(k - 1)) starts(k) = starts(k - 1) + 1; k += 1 }
      starts.foreach { off =>
        val startT = (YearStartS + d * DayS) * 10000L + off
        val s0 = station()
        val kind = rnd.nextDouble()
        val (s1, dur) =
          if (kind < ShortSameShare) (s0, 60 + rnd.nextInt(240))
          else if (kind < ShortSameShare + LongSameShare) (s0, 300 + rnd.nextInt(3000))
          else {
            var e = station(); while (e == s0) e = station()
            (e, 60 + (math.exp(rnd.nextGaussian() * 0.6 + 6.6)).toInt.min(20000))
          }
        val bike = 14529 + rnd.nextInt(35000)
        val user = if (rnd.nextDouble() < 0.8) "Subscriber" else "Customer"
        val birth = if (rnd.nextDouble() < NullBirthShare) ""
          else (1950 + rnd.nextInt(55)).toString
        val gu = rnd.nextDouble()
        val gender = if (gu < 0.1) 0 else if (gu < 0.7) 1 else 2
        val stopT = startT + dur * 10000L + rnd.nextInt(10000)
        line.setLength(0)
        line.append(q(dur.toString)).append(',')
          .append(q(stamp(startT))).append(',').append(q(stamp(stopT))).append(',')
          .append(q(stationIds(s0).toString)).append(',').append(q(names(s0))).append(',')
          .append(lat(s0)).append(',').append(lon(s0)).append(',')
          .append(q(stationIds(s1).toString)).append(',').append(q(names(s1))).append(',')
          .append(lat(s1)).append(',').append(lon(s1)).append(',')
          .append(q(bike.toString)).append(',').append(q(user)).append(',')
          .append(q(birth)).append(',').append(q(gender.toString)).append('\n')
        val row = line.toString
        out.write(row)
        t.csvRows += 1
        if (rnd.nextDouble() < DupShare) { out.write(row); t.csvRows += 1 }
        if (!(s0 == s1 && dur < 300)) {
          t.keptTrips += 1
          t.perDay(d) += 1
          t.perDayGender(d)(gender) += 1
          t.perDayDuration(d) += dur
          t.perDayStation(d)(s0) += 1
          t.stationSeen(s0) = true
          t.stationSeen(s1) = true
        }
      }
    }
    out.close()
    tripDir.listFiles().foreach(bytes += _.length)
    val weatherCsv = new File(dir, "nyc_weather_data_set.csv")
    val w = weather(weatherCsv, rnd)
    EtlInput(tripDir.getPath, weatherCsv.getPath, bytes + weatherCsv.length, t, w)
  }

  // NOAA WT flag frequencies in the real 2020 NYC extract (FIXTURES.md §2)
  private val flagFreq = Seq(1 -> 870, 2 -> 66, 3 -> 210, 4 -> 29, 5 -> 4,
    6 -> 3, 8 -> 180, 9 -> 6, 11 -> 20)

  private def weather(f: File, rnd: Random): WeatherTally = {
    val cols = Seq("STATION", "NAME", "DATE", "AWND", "DAPR", "MDPR", "PGTM",
      "PRCP", "SNOW", "SNWD", "TAVG", "TMAX", "TMIN", "TOBS", "TSUN", "WDF2",
      "WDF5", "WESD", "WESF", "WSF2", "WSF5") ++ flagFreq.map(x => f"WT${x._1}%02d")
    val out = writer(f)
    out.write(cols.map(q).mkString(",")); out.write('\n')
    val facts = mutable.HashSet.empty[String]
    val bridge = mutable.HashSet.empty[(Int, Int)]
    def measure(nullShare: Double)(v: => String): String =
      if (rnd.nextDouble() < nullShare) "" else v
    (0 until Days).foreach { d =>
      val date = dayDate(d).toString
      val season = math.cos((d - 200) * 2 * math.Pi / Days)
      (0 until WeatherStations).foreach { s =>
        if (rnd.nextDouble() < 0.76) { // not every station reports daily
          val prcp = measure(0.05)("%.2f".formatLocal(java.util.Locale.ROOT, math.max(0.0, rnd.nextGaussian() * 0.3)))
          val snow = measure(0.4)(if (season < -0.5 && rnd.nextDouble() < 0.1)
            "%.1f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 4) else "0.0")
          val snwd = measure(0.5)("0.0")
          val tavg = measure(0.7)((55 + 25 * season + rnd.nextGaussian() * 5).round.toString)
          val tmax = measure(0.3)((63 + 25 * season + rnd.nextGaussian() * 5).round.toString)
          val tmin = measure(0.3)((47 + 25 * season + rnd.nextGaussian() * 5).round.toString)
          val flags = flagFreq.map { case (id, n) =>
            if (rnd.nextDouble() < n / 31104.0 * 1.5) { bridge += ((d, id)); "1" } else ""
          }
          val fields = Seq(f"USC00${300000 + s}", s"STATION $s, NY US", date,
            "", "", "", "", prcp, snow, snwd, tavg, tmax, tmin,
            "", "", "", "", "", "", "", "") ++ flags
          val row = fields.map(q).mkString(",") + "\n"
          out.write(row)
          if (rnd.nextDouble() < 0.01) out.write(row)
          facts += Seq(date, prcp, snow, snwd, tavg, tmax, tmin).mkString("|")
        }
      }
    }
    out.close()
    WeatherTally(facts.size.toLong, bridge.toSet)
  }

  // ---------------------------------------------------------------- corpus

  private val vocab = Vector("spark", "batch", "stream", "query", "table",
    "column", "row", "scan", "filter", "join", "group", "order", "sort",
    "hash", "merge", "window", "value", "key", "vector", "index", "data",
    "line", "part", "agg", "fast", "slow", "big", "small", "the", "a",
    "customer", "station", "trip", "weather", "bike", "hour", "month",
    "city", "route", "dock", "ride", "member", "rain", "snow", "fog",
    "north", "south", "east", "west", "park")

  val Dim = 64
  val Docs = 5000   // the sf0.1 `documents` cardinality
  val Vectors = 2000 // the sf0.1 `embeddings` cardinality

  def docText(rnd: Random): String =
    Seq.fill(12 + rnd.nextInt(70))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  /** A near-duplicate: a few word substitutions, Jaccard well above the
    * registry's 0.8 threshold on long texts. */
  def nearDup(text: String, rnd: Random): String = {
    val ws = text.split(" ")
    val i = rnd.nextInt(ws.length)
    ws(i) = vocab(rnd.nextInt(vocab.size))
    ws.mkString(" ")
  }

  def vector(rnd: Random): Array[Float] =
    Array.fill(Dim)((rnd.nextGaussian() * 0.12).toFloat)

  final case class Corpus(
      docs: Vector[(Long, String)], vectors: Map[Long, Array[Float]]) {
    def base: Vector[(Long, String)] = docs.filter(_._1 % 3 != 0)
    def held: Vector[(Long, String)] = docs.filter(_._1 % 3 == 0)
  }

  /** sf0.1-shaped `documents` (5000) and `embeddings` (2000, keyed by
    * doc id); the `doc_id % 3 != 0` slice is the fixture's base. */
  def corpus(seed: Long): Corpus = {
    val rnd = new Random(seed ^ 0x5eedL)
    val docs = (0 until Docs).map(i => i.toLong -> docText(rnd)).toVector
    val vecs = (0 until Vectors).map(i => i.toLong -> vector(rnd)).toMap
    Corpus(docs, vecs)
  }
}
