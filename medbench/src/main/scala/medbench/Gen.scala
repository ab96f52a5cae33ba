package medbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

final case class Tx(date: Option[LocalDate], silverType: String,
    amountCents: Option[Long], name: String, file: String)
final case class LogRow(date: LocalDate, corrected: Boolean)
final case class Flight(date: LocalDate, minutes: Int)
/** A timeline segment that survives the Silver flatten. `distDm` is the
  * activity distance in tenths of a metre (0 for visits).
  */
final case class Segment(date: LocalDate, visit: Boolean, hasCoords: Boolean,
    mode: String, distDm: Long)

/** Ground truth of everything landed so far, kept by the generator while it
  * writes the files: what Silver and Gold must contain once every landed
  * file has been carried through.
  */
final class Truth {
  val tx = ArrayBuffer.empty[Tx]
  val logs = ArrayBuffer.empty[LogRow]
  val flights = ArrayBuffer.empty[Flight]
  val sleepDates = ArrayBuffer.empty[LocalDate]
  val segments = ArrayBuffer.empty[Segment]
  val stepsByDate = mutable.TreeMap.empty[LocalDate, Long]
  var hrMinutes = 0L
  var hrHours = 0L
  var hrReadings = 0L
  var stepsHourlyRows = 0L
  var files = 0
  var inputRows = 0L
  var inputBytes = 0L

  def cents(xs: Iterable[Tx]): Long = xs.flatMap(_.amountCents).sum

  /** Silver table → expected row count. */
  def silverRows: Map[String, Long] = Map(
    "transactions" -> tx.size.toLong,
    "daily_spend" -> tx.filter(_.date.isDefined)
      .map(t => (t.date, t.silverType, t.file)).distinct.size.toLong,
    "heart_rate_minute" -> hrMinutes,
    "heart_rate_hourly" -> hrHours,
    "steps_hourly" -> stepsHourlyRows,
    "sleep_scores" -> sleepDates.size.toLong,
    "manual_logs" -> logs.size.toLong,
    "flight_logs" -> flights.size.toLong,
    "timeline_segments" -> segments.size.toLong)

  /** Upper-cased trimmed types the cost report pivots on. */
  val costCategories: Set[String] = Set("HOTEL", "FOOD", "ACTIVITY", "TRAVEL", "MISC")

  def logDates: Set[LocalDate] = logs.map(_.date).toSet

  /** Sum of the five pivot categories over days that have a manual log. */
  def costTotalCents: Long = {
    val days = logDates
    cents(tx.filter(t => t.date.exists(days.contains) &&
      costCategories.contains(t.silverType.trim.toUpperCase)))
  }

  /** Days whose latest manual log is a corrected re-upload. */
  def correctedDays: Int =
    logs.groupBy(_.date).count { case (_, rows) => rows.last.corrected }

  def taxReportRows: Int =
    (flights.map(_.date) ++ sleepDates.map(_.minusDays(1))).distinct.size

  def activityModes: Set[String] = segments.filterNot(_.visit).map(_.mode).toSet

  def goldRows: Map[String, Long] = Map(
    "full_travel_cost" -> logDates.size.toLong,
    "travel_tax_report" -> taxReportRows.toLong,
    "transport_mode" -> activityModes.size.toLong)
}

/** Seeded writer of reference-shaped landing files (transactions, manual
  * logs, flights, sleep, heart rate, steps, one timeline document), with the
  * edge cases the pipeline must tolerate: quoted `"$1,234.56"` amounts,
  * `NULL` literals and empty fields, unparseable dates, case/space variants
  * of spend types, hour gaps in steps, timeline `placeLocation` as an object
  * or a bare string, `start`/`startLocation` aliases, a probability only on
  * the top candidate, and segments that are neither visit nor activity.
  *
  * Every value is a pure function of (seed, day, stream), so a day's rows
  * are the same whichever drop carries them.
  */
object Gen {
  val Countries: IndexedSeq[(String, String)] = IndexedSeq(
    "Japan" -> "Tokyo", "Japan" -> "Kyoto", "Vietnam" -> "Hanoi",
    "Thailand" -> "Bangkok", "Peru" -> "Cusco", "Portugal" -> "Lisbon")
  val Types: IndexedSeq[String] = IndexedSeq("Hotel", "Food", "Food",
    "Activity", "Travel", "Misc", "food ", "HOTEL", "Shopping", "", "NULL")
  val Modes: IndexedSeq[String] = IndexedSeq("WALKING", "IN_PASSENGER_VEHICLE",
    "DRIVING", "MOTORCYCLING", "IN_TRAIN", "IN_SUBWAY", "IN_TRAM", "IN_BUS",
    "CYCLING", "FLYING")
  val Airports: IndexedSeq[String] =
    IndexedSeq("HND", "KIX", "HAN", "BKK", "LIM", "CUZ", "LIS", "LHR")

  // the shape of one day: heart rate every 10 s, steps every minute
  val HrEverySec = 10
  val TxPerDay = 12
  val MaxFlightsPerDay = 2
  val SegmentsPerDay = 24

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, day: Int, stream: Int): SplittableRandom =
    new SplittableRandom(mix(mix(seed) + day * 1000003L + stream))

  /** First calendar day of the seed's trip. */
  def baseDate(seed: Long): LocalDate =
    LocalDate.of(2024, 1, 1).plusDays(Math.floorMod(mix(seed), 365L))

  def dateOf(seed: Long, day: Int): LocalDate = baseDate(seed).plusDays(day.toLong)

  private def money(cents: Long, r: SplittableRandom): String = {
    val plain = f"${cents / 100}%d.${cents % 100}%02d"
    if (cents >= 100000L) {
      val s = (cents / 100).toString.reverse.grouped(3).mkString(",").reverse
      f"\"$$$s.${cents % 100}%02d\""
    } else if (r.nextInt(3) == 0) "$" + plain
    else plain
  }

  private def latLng(r: SplittableRandom): String = {
    val lat = (r.nextInt(1600000) - 800000) / 10000.0
    val lng = (r.nextInt(3580000) - 1790000) / 10000.0
    val sep = if (r.nextBoolean()) " , " else ", "
    "%.4f°%s%.4f°".formatLocal(java.util.Locale.ROOT, lat, sep, lng)
  }

  private final class CsvFile(path: Path, header: String, truth: Truth) {
    val w: BufferedWriter = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    w.write(header); w.write('\n')
    def row(s: String): Unit = { w.write(s); w.write('\n'); truth.inputRows += 1 }
    def close(): Path = { w.close(); truth.inputBytes += Files.size(path); truth.files += 1; path }
  }

  /** Write one drop of seven files covering `days` days from `firstDay`
    * into `dir`, named with `tag`. When `correct` names a day, two more
    * files re-upload that day's transactions (amounts corrected) and
    * manual log under new names. Returns the files written.
    */
  def writeDrop(dir: Path, tag: String, seed: Long, firstDay: Int, days: Int,
      truth: Truth, correct: Option[Int] = None): Seq[Path] = {
    Files.createDirectories(dir)
    val range = firstDay until firstDay + days
    val out = ArrayBuffer.empty[Path]
    out += transactions(dir.resolve(s"transactions_$tag.csv"), seed, range, truth, fix = false)
    out += manualLogs(dir.resolve(s"manual_logs_$tag.csv"), seed, range, truth, fix = false)
    out += flightLogs(dir.resolve(s"flight_logs_$tag.csv"), seed, range, truth)
    out += sleep(dir.resolve(s"sleep_$tag.csv"), seed, range, truth)
    out += heartRate(dir.resolve(s"hr_$tag.csv"), seed, range, truth)
    out += steps(dir.resolve(s"steps_$tag.csv"), seed, range, truth)
    out += timeline(dir.resolve(s"timeline_$tag.json"), seed, range, truth)
    correct.foreach { d =>
      out += transactions(dir.resolve(s"transactions_${tag}_fix.csv"), seed,
        d until d + 1, truth, fix = true)
      out += manualLogs(dir.resolve(s"manual_logs_${tag}_fix.csv"), seed,
        d until d + 1, truth, fix = true)
    }
    out.toSeq
  }

  private def transactions(p: Path, seed: Long, days: Range,
      truth: Truth, fix: Boolean): Path = {
    val f = new CsvFile(p, "country,date,name,type,amount,comments", truth)
    val file = p.getFileName.toString
    for (day <- days) {
      val r = rng(seed, day, 1)
      val date = dateOf(seed, day)
      val (country, city) = Countries(r.nextInt(Countries.size))
      val n = TxPerDay - 2 + r.nextInt(5)
      for (i <- 0 until n) {
        // every day has one unparseable date and one four-figure hotel bill
        val badDate = i == 0 || r.nextInt(40) == 0
        val typ = if (i == 1) "Hotel" else Types(r.nextInt(Types.size))
        val base = typ.trim.toUpperCase match {
          case _ if i == 1 => 100000L + r.nextInt(150000)
          case "HOTEL" => 8000L + r.nextInt(240000)
          case _       => 150L + r.nextInt(25000)
        }
        val cents = if (fix) base + base / 20 else base
        val nullAmount = r.nextInt(33) == 0
        val name = if (r.nextInt(5) == 0) s"\"Cafe, Bar $i\"" else s"$city shop $i"
        val comments = r.nextInt(5) match {
          case 0 => "NULL"
          case 1 => ""
          case _ => s"note $day-$i"
        }
        val silverType = if (typ.isEmpty || typ == "NULL") "uncategorized" else typ
        f.row(Seq(country, if (badDate) "not-a-date" else date.toString, name, typ,
          if (nullAmount) "NULL" else money(cents, r), comments).mkString(","))
        truth.tx += Tx(if (badDate) None else Some(date), silverType,
          if (nullAmount) None else Some(cents), name.replace("\"", ""), file)
      }
    }
    f.close()
  }

  private def manualLogs(p: Path, seed: Long, days: Range, truth: Truth,
      fix: Boolean): Path = {
    val f = new CsvFile(p,
      "day,date,flag,country,city,description,comments,food,travel,hotel", truth)
    for (day <- days) {
      val r = rng(seed, day, 2)
      val date = dateOf(seed, day)
      val (country, city) = Countries(r.nextInt(Countries.size))
      val desc = (if (fix) "corrected: " else "") + s"Day ${day + 1} in $city"
      val comments = if (r.nextInt(4) == 0) "NULL" else s"log $day"
      f.row(Seq((day + 1).toString, date.toString, if (r.nextBoolean()) "1.0" else "0.0",
        country, city, desc, comments, "Ramen", "Train", "Hostel").mkString(","))
      truth.logs += LogRow(date, fix)
    }
    f.close()
  }

  private def flightLogs(p: Path, seed: Long, days: Range, truth: Truth): Path = {
    val f = new CsvFile(p, "date,flight_number,from,to,dep_time,arr_time,duration," +
      "airline,aircraft,registration,seat_number,seat_type,flight_class," +
      "flight_reason,note,dep_id,arr_id,airline_id,aircraft_id", truth)
    for (day <- days) {
      val r = rng(seed, day, 3)
      val date = dateOf(seed, day)
      for (i <- 0 until r.nextInt(MaxFlightsPerDay + 1)) {
        val minutes = 45 + r.nextInt(736)
        val from = Airports(r.nextInt(Airports.size))
        val to = Airports(r.nextInt(Airports.size))
        f.row(Seq(date.toString, f"MB${day % 1000}%03d$i", from, to, "09:00", "17:30",
          f"${minutes / 60}%02d:${minutes % 60}%02d", "Medbench Air", "A320", "JA001",
          "12A", "window", "economy", "leisure", "NULL", "1", "2", "3", "4").mkString(","))
        truth.flights += Flight(date, minutes)
      }
    }
    f.close()
  }

  private def sleep(p: Path, seed: Long, days: Range, truth: Truth): Path = {
    val f = new CsvFile(p, "sleep_log_entry_id,timestamp,overall_score," +
      "composition_score,revitalization_score,duration_score," +
      "deep_sleep_in_minutes,resting_heart_rate,restlessness", truth)
    for (day <- days) {
      val r = rng(seed, day, 4)
      val date = dateOf(seed, day)
      f.row(Seq((5000000L + day).toString, f"$date 07:${r.nextInt(60)}%02d:00",
        (50 + r.nextInt(50)).toString, f"${15 + r.nextInt(15)}.0",
        (10 + r.nextInt(20)).toString, f"${20 + r.nextInt(30)}.0",
        (30 + r.nextInt(90)).toString, (45 + r.nextInt(20)).toString,
        f"0.${r.nextInt(30)}%02d").mkString(","))
      truth.sleepDates += date
    }
    f.close()
  }

  private def heartRate(p: Path, seed: Long, days: Range, truth: Truth): Path = {
    val f = new CsvFile(p, "timestamp,beats_per_minute,data_source", truth)
    f.row("not-a-time,72.0,fitbit")
    val sb = new java.lang.StringBuilder(64)
    for (day <- days) {
      val r = rng(seed, day, 5)
      val date = dateOf(seed, day).toString
      // the device is off for a quarter of an hour once a day
      val offFrom = r.nextInt(86400 - 900)
      var bpm = 60 + r.nextInt(40)
      var lastMinute = -1
      var lastHour = -1
      var sec = 0
      while (sec < 86400) {
        if ((sec < offFrom || sec >= offFrom + 900) && r.nextInt(100) != 0) {
          bpm = math.max(45, math.min(175, bpm + r.nextInt(7) - 3))
          val h = sec / 3600
          val m = sec / 60 % 60
          sb.setLength(0)
          sb.append(date).append(' ')
          if (h < 10) sb.append('0')
          sb.append(h).append(':')
          if (m < 10) sb.append('0')
          sb.append(m).append(':')
          val s = sec % 60
          if (s < 10) sb.append('0')
          sb.append(s).append(',').append(bpm).append(".0,")
          sb.append(if (r.nextInt(50) == 0) "NULL" else "fitbit")
          f.row(sb.toString)
          truth.hrReadings += 1
          if (sec / 60 != lastMinute) { truth.hrMinutes += 1; lastMinute = sec / 60 }
          if (h != lastHour) { truth.hrHours += 1; lastHour = h }
        }
        sec += HrEverySec
      }
    }
    f.close()
  }

  private def steps(p: Path, seed: Long, days: Range, truth: Truth): Path = {
    val f = new CsvFile(p, "timestamp,steps,data_source", truth)
    for (day <- days) {
      val r = rng(seed, day, 6)
      val date = dateOf(seed, day)
      // some nights the tracker is off for hours 1–4: those hours are
      // absent from the file and must come back as zero-step rows
      val gap = r.nextInt(3) == 0
      var total = 0L
      for (h <- 0 until 24 if !(gap && h >= 1 && h <= 4); m <- 0 until 60) {
        val n = if (h < 7) r.nextInt(5).toLong else r.nextInt(120).toLong
        f.row(f"$date $h%02d:$m%02d:00,$n,fitbit")
        total += n
      }
      truth.stepsByDate(date) = truth.stepsByDate.getOrElse(date, 0L) + total
      truth.stepsHourlyRows += 24
    }
    f.close()
  }

  private def timeline(p: Path, seed: Long, days: Range, truth: Truth): Path = {
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    w.write("{ \"semanticSegments\": [\n")
    var first = true
    for (day <- days) {
      val r = rng(seed, day, 7)
      val date = dateOf(seed, day)
      val n = SegmentsPerDay - 2 + r.nextInt(3)
      for (i <- 0 until n) {
        val start = f"${date}T$i%02d:${r.nextInt(10)}%02d:00"
        val end = f"${date}T$i%02d:${10 + r.nextInt(45)}%02d:00"
        val times = s""""startTime": "$start", "endTime": "$end""""
        val seg = if (r.nextInt(30) == 0) {
          s"{ $times }" // neither visit nor activity: dropped by Silver
        } else if (i % 2 == 0) {
          val prob = f"0.${50 + r.nextInt(50)}%02d"
          val (loc, coords) = r.nextInt(20) match {
            case 0 => ("\"unknown place\"", false)
            case k if k < 8 => ("\"" + latLng(r) + "\"", true)
            case _ => ("{ \"latLng\": \"" + latLng(r) + "\" }", true)
          }
          truth.segments += Segment(date, visit = true, coords, "", 0L)
          s"""{ $times, "visit": { "probability": $prob, "topCandidate": { "placeId": "P$day-$i", "placeLocation": $loc } } }"""
        } else {
          val mode = Modes(r.nextInt(Modes.size))
          val distDm = 1000L + r.nextInt(500000)
          val prob = f"0.${50 + r.nextInt(50)}%02d"
          val (s, e) = if (r.nextBoolean()) ("start", "end") else ("startLocation", "endLocation")
          val outerProb = if (r.nextInt(5) < 3) s""""probability": $prob, """ else ""
          truth.segments += Segment(date, visit = false, hasCoords = true, mode, distDm)
          s"""{ $times, "activity": { $outerProb"distanceMeters": ${distDm / 10}.${distDm % 10}, "topCandidate": { "type": "$mode", "probability": $prob }, "$s": { "latLng": "${latLng(r)}" }, "$e": { "latLng": "${latLng(r)}" } } }"""
        }
        if (!first) w.write(",\n")
        w.write("  "); w.write(seg)
        first = false
        truth.inputRows += 1
      }
    }
    w.write("\n] }\n")
    w.close()
    truth.inputBytes += Files.size(p)
    truth.files += 1
    p
  }
}
