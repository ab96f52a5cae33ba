package medbench

import graft.pipeline.{Catalog, Gold, Ingestion, Schemas, SilverTransforms}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The program's medallion pipeline over one warehouse and one landing
  * directory, driven only through the public functions of its layers, one
  * call per config row, per Silver dataset and per Gold report.
  */
final class Medallion(spark: SparkSession, val root: String, landing: String,
    probe: Probe) {
  val catalog = new Catalog(spark, root)
  private val ingestion = new Ingestion(catalog)
  private val silver = new SilverTransforms(catalog)

  val config: Seq[Schemas.FileDetail] = Seq(
    "transactions*.csv" -> "transactions", "manual_logs*.csv" -> "manual_logs",
    "flight_logs*.csv" -> "flight_logs", "sleep*.csv" -> "fitbit_sleep_score",
    "hr*.csv" -> "fitbit_heart_rate", "steps*.csv" -> "fitbit_steps",
    "timeline*.json" -> "google_timeline").zipWithIndex.map {
      case ((pattern, table), i) =>
        Schemas.FileDetail(i + 1L, "landing", "stage", landing, pattern,
          "bronze", table, if (pattern.endsWith(".json")) "JSON" else "CSV")
    }

  val datasets: Seq[String] = Seq("transactions", "fitbit_heart_rate",
    "fitbit_steps", "fitbit_sleep_score", "manual_logs", "flight_logs",
    "google_timeline")

  /** Carry every landed file through Bronze, Silver and Gold; returns the
    * number of files and batches that failed.
    */
  def refresh(): Int = {
    var failed = 0
    config.foreach { d =>
      val loaded = probe.call("ingestion", d.target_table)(ingestion.ingest(d))
      val bad = loaded.count(_._3 < 0)
      probe.count("ingestion.files", loaded.size)
      probe.count("ingestion.rows", loaded.map(_._3).filter(_ >= 0).sum.toDouble)
      probe.count("ingestion.failed", bad)
      failed += bad
    }
    datasets.foreach { ds =>
      val batches = probe.call("silver", ds)(silver.runAll(only = Some(ds)))(ds)
      val bad = batches.count(_._2 < 0)
      probe.count("silver.batches", batches.size)
      probe.count("silver.rows", batches.map(_._2).filter(_ >= 0).sum.toDouble)
      probe.count("silver.failed", bad)
      failed += bad
    }
    gold()
    failed
  }

  def read(schema: String, table: String): DataFrame =
    probe.call("catalog", "read")(catalog.read(schema, table))

  private def build(report: String)(df: => DataFrame): Unit =
    probe.call("gold", report) {
      val out = df
      probe.call("catalog", "overwrite")(catalog.overwrite(out, "gold", report))
    }

  /** Rebuild the three Gold reports from Silver. */
  def gold(): Unit = {
    build("full_travel_cost")(Gold.fullTravelCost(
      read("silver", "transactions"), read("silver", "manual_logs")))
    build("travel_tax_report")(Gold.travelTaxReport(
      read("silver", "flight_logs"), read("silver", "sleep_scores"),
      read("silver", "heart_rate_hourly")))
    build("transport_mode")(Gold.transportModeAnalysis(
      read("silver", "timeline_segments")))
  }

  /** Bytes and files on disk under the warehouse, and ledger size. */
  def scan(): Map[String, Double] = {
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes, files, ledgerFiles = 0L
    val it = fs.listFiles(new HPath(root), true)
    while (it.hasNext) {
      val f = it.next()
      bytes += f.getLen
      files += 1
      if (f.getPath.toString.contains("/admin/") && f.getPath.getName.endsWith(".parquet"))
        ledgerFiles += 1
    }
    val ledgerRows = Seq("ingestion_logs", "transformation_logs")
      .filter(catalog.exists("admin", _)).map(catalog.read("admin", _).count()).sum
    Map("catalog.stored_bytes" -> bytes.toDouble, "catalog.files" -> files.toDouble,
      "catalog.ledger_files" -> ledgerFiles.toDouble,
      "catalog.ledger_rows" -> ledgerRows.toDouble)
  }

  /** Compare Silver, Gold and the load ledger with the generator's truth.
    * Returns one message per failed check and the number of checks made.
    */
  def check(truth: Truth): (Seq[String], Int) = {
    val flightHours = truth.flights.map(_.minutes).sum / 60.0
    val corrected = when(col("description").startsWith("corrected"), 1).otherwise(0)
    val succeeded = when(col("status") === "SUCCESS", 1).otherwise(0)
    def silver(t: String, sums: (String, Double)*) =
      ("silver", t, Some(truth.silverRows(t)), sums.map { case (c, v) => (c, col(c), v) })
    def gold(t: String, sums: (String, Column, Double)*) =
      ("gold", t, Some(truth.goldRows(t)), sums)
    // one aggregate job a table: its row count and the column totals
    val tables = Seq(
      silver("transactions", "amount" -> truth.cents(truth.tx) / 100.0),
      silver("daily_spend",
        "total_amount" -> truth.cents(truth.tx.filter(_.date.isDefined)) / 100.0),
      silver("heart_rate_minute", "n_readings" -> truth.hrReadings.toDouble),
      silver("heart_rate_hourly"),
      silver("steps_hourly", "steps" -> truth.stepsByDate.values.sum.toDouble),
      silver("sleep_scores"),
      silver("manual_logs"),
      silver("flight_logs", "duration_hours" -> flightHours),
      silver("timeline_segments", "distance_meters" -> truth.segments.map(_.distDm).sum / 10.0),
      gold("full_travel_cost", ("total", col("total"), truth.costTotalCents / 100.0),
        ("corrected days", corrected, truth.correctedDays.toDouble)),
      gold("travel_tax_report", ("total_flight_hours", col("total_flight_hours"), flightHours)),
      gold("transport_mode", ("total_distance_km", col("total_distance_km"),
        truth.segments.filterNot(_.visit).map(_.distDm).sum / 10000.0)),
      ("admin", "ingestion_logs", None, Seq(("SUCCESS files", succeeded, truth.files.toDouble))))
    val results = tables.flatMap { case (schema, t, rows, sums) =>
      val r = catalog.read(schema, t).agg(count(lit(1)),
        sums.map { case (_, c, _) => coalesce(sum(c).cast("double"), lit(0.0)) }: _*).head()
      rows.map(n => (s"$schema.$t rows", r.getLong(0).toDouble, n.toDouble)) ++
        sums.zipWithIndex.map { case ((what, _, want), i) =>
          (s"$schema.$t $what", r.getDouble(i + 1), want) }
    }
    (results.collect { case (what, got, want) if !Checks.same(got, want) =>
      s"$what: got $got, want $want" }, results.size)
  }
}

object Checks {
  /** Equal up to the rounding of summing doubles. */
  def same(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want))
}
