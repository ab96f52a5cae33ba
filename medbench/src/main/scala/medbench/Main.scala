package medbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cores <n> --t0 <epoch ms>`, where `--t0`
  * is the wall clock just before the JVM was launched. Prints one
  * line `MEDBENCH <json>` with the attempted and failed operation counts
  * and the metrics: end-to-end ones untraced, per-layer ones traced.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val tracing = opts("trace") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"medbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[medbench] set-up: session ready ${(System.currentTimeMillis() - opts("t0").toLong) / 1e3}%.2f s after start")
    val probe = new Probe(spark, tracing)
    val ctx = Ctx(spark, probe, opts("seed").toLong, opts("seconds").toInt, work, cores)
    val out = Workloads.run(workload, ctx)
    val metrics =
      if (!tracing) Report.endToEnd(out, opts("t0").toLong)
      else {
        val (spans, own) = probe.finish()
        val self = Spans.selfSeconds(spans)
        val trace = work.resolve("trace.jsonl")
        Files.write(trace, spans.map(s =>
          Spans.toJson(s, self(s.id), own.get(s.id))).mkString("", "\n", "\n").getBytes)
        ctx.log(s"${spans.size} spans written to $trace")
        Report.perLayer(out, spans, own, probe.counts, cores)
      }
    out.afterRun()
    val body = metrics.map { case (k, (v, unit)) =>
      // metric names and units are identifiers: nothing to escape
      s""""$k":{"value":${Report.num(v)},"unit":"$unit"}"""
    }.mkString(",")
    println(s"""MEDBENCH {"attempted":${out.attempted},"failed":${out.failed},"metrics":{$body}}""")
    System.out.flush()
    spark.stop()
  }
}

/** Turns an [[Outcome]] (and, traced, its spans) into named metrics. */
object Report {
  type Metrics = Seq[(String, (Double, String))]

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Heap still reachable at the end of the run, in MB, measured after
    * forced full collections. Unlike the resident-set high-water mark,
    * which follows how far the collector let the heap grow, it repeats
    * from run to run. Spark's ContextCleaner drops the blocks and shuffle
    * state of unreachable datasets on its own thread after a collection
    * finds them, so collections repeat until three readings in a row
    * agree within 1 MB.
    */
  def liveHeapMb(): Double = {
    def collected(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    var readings = List(collected())
    def settled = readings.size >= 3 && readings.take(3).max - readings.take(3).min <= 1.0
    while (readings.size < 20 && !settled) {
      Thread.sleep(250)
      readings = collected() :: readings
    }
    System.err.println("[medbench] live heap after each collection (MB): " +
      readings.reverse.map(r => f"$r%.1f").mkString(" "))
    readings.head
  }

  /** High-water resident set of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def medianOrNaN(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  def endToEnd(o: Outcome, t0Ms: Long): Metrics = Seq(
    "setup_s" -> ((o.timedStartMs - t0Ms) / 1000.0, "s"),
    "wall_s" -> (o.wallS, "s"),
    "refresh_s.p50" -> (medianOrNaN(o.refreshes), "s"),
    "items_per_s" -> (o.items / o.wallS, "1/s"),
    "live_heap_mb" -> (liveHeapMb(), "MB"),
    "success_rate" -> (1.0 - o.failed.toDouble / o.attempted, "ratio"))

  val Layers: Seq[String] =
    Seq("ingestion", "silver", "gold", "catalog", "dashboard", "query", "substrate")
  val DashboardFns: Seq[String] = Workloads.RequestKinds.filterNot(_ == "daily_summary")
  val GoldReports: Seq[String] = Seq("full_travel_cost", "travel_tax_report", "transport_mode")
  val Datasets: Seq[String] = Seq("transactions", "fitbit_heart_rate",
    "fitbit_steps", "fitbit_sleep_score", "manual_logs", "flight_logs",
    "google_timeline")

  def perLayer(o: Outcome, spans: Seq[Span], own: Map[Long, EngineCounts],
      counts: Map[String, Double], cores: Int): Metrics = {
    val self = Spans.selfSeconds(spans)
    val incl = Spans.inclusive(spans, own)
    def of(layer: String, name: String = null) =
      spans.filter(s => s.layer == layer && (name == null || s.name == name))
    def busy(layer: String, name: String = null) = of(layer, name).map(_.seconds).sum
    def p50(layer: String, name: String) = medianOrNaN(of(layer, name).map(_.seconds))
    def engine(ss: Seq[Span]): EngineCounts = {
      val e = new EngineCounts
      ss.flatMap(s => incl.get(s.id)).foreach(e += _)
      e
    }
    def cnt(name: String) = counts.getOrElse(name, 0.0)
    val ops = spans.filter(_.parent < 0)
    val requests = ops.filter(s => Workloads.RequestKinds.contains(s.name))
    // the engine counters of the timed phase, the one `wall_s` covers
    val all = engine(ops.filterNot(requests.contains))
    val m = Seq.newBuilder[(String, (Double, String))]
    m += "op.self_s" -> (ops.map(s => self(s.id)).sum, "s")
    for (l <- Layers) {
      m += s"$l.self_s" -> (of(l).map(s => self(s.id)).sum, "s")
      m += s"$l.calls" -> (of(l).size.toDouble, "count")
    }
    val ing = engine(of("ingestion"))
    m ++= Seq(
      "ingestion.busy_s" -> (busy("ingestion"), "s"),
      "ingestion.files" -> (cnt("ingestion.files"), "count"),
      "ingestion.rows" -> (cnt("ingestion.rows"), "count"),
      "ingestion.failed" -> (cnt("ingestion.failed"), "count"),
      "ingestion.spark_jobs" -> (ing.jobs.toDouble, "count"),
      "ingestion.exec_s" -> (ing.runMs / 1000.0, "s"))
    val sil = engine(of("silver"))
    m += "silver.busy_s" -> (busy("silver"), "s")
    Datasets.foreach(ds => m += s"silver.$ds.busy_s" -> (busy("silver", ds), "s"))
    m ++= Seq(
      "silver.batches" -> (cnt("silver.batches"), "count"),
      "silver.rows" -> (cnt("silver.rows"), "count"),
      "silver.failed" -> (cnt("silver.failed"), "count"),
      "silver.spark_jobs" -> (sil.jobs.toDouble, "count"),
      "silver.exec_s" -> (sil.runMs / 1000.0, "s"))
    m += "gold.busy_s" -> (busy("gold"), "s")
    GoldReports.foreach(r => m += s"gold.$r.busy_s" -> (busy("gold", r), "s"))
    m ++= Seq(
      "gold.daily_summary.p50" -> (p50("gold", "daily_summary"), "s"),
      "gold.spark_jobs" -> (engine(of("gold")).jobs.toDouble, "count"))
    Seq("stored_bytes" -> "bytes", "files" -> "count", "ledger_files" -> "count",
      "ledger_rows" -> "count", "bytes_per_input_byte" -> "ratio").foreach {
      case (k, unit) => m += s"catalog.$k" -> (o.layer.getOrElse(s"catalog.$k", 0.0), unit)
    }
    m += "catalog.read.p50" -> (p50("catalog", "read"), "s")
    DashboardFns.foreach(f => m += s"dashboard.$f.p50" -> (p50("dashboard", f), "s"))
    m += "dashboard.spark_jobs_per_request" ->
      (if (requests.isEmpty) 0.0 else engine(requests).jobs.toDouble / requests.size, "count")
    for ((layer, names) <- Seq(
        "substrate" -> Workloads.SubstrateLines,
        "query" -> (Workloads.Trainer +: Workloads.ChainQueries))) {
      names.foreach(q => m += s"$layer.$q.busy_s" -> (busy(layer, q), "s"))
      val e = engine(of(layer))
      m += s"$layer.spark_jobs" -> (e.jobs.toDouble, "count")
      m += s"$layer.shuffle_write_bytes" -> (e.shuffleWriteBytes.toDouble, "bytes")
    }
    m ++= Seq(
      "spark.jobs" -> (all.jobs.toDouble, "count"),
      "spark.stages" -> (all.stages.toDouble, "count"),
      "spark.tasks" -> (all.tasks.toDouble, "count"),
      "spark.failed_tasks" -> (all.failedTasks.toDouble, "count"),
      "spark.executor_run_s" -> (all.runMs / 1000.0, "s"),
      "spark.executor_cpu_s" -> (all.cpuNs / 1e9, "s"),
      "spark.busy_ratio" -> (all.runMs / 1000.0 / (o.wallS * cores), "ratio"),
      "spark.gc_s" -> (all.gcMs / 1000.0, "s"),
      "spark.shuffle_write_bytes" -> (all.shuffleWriteBytes.toDouble, "bytes"),
      "spark.spill_bytes" -> (all.spillBytes.toDouble, "bytes"),
      "spark.input_bytes" -> (all.inputBytes.toDouble, "bytes"),
      "spark.output_bytes" -> (all.outputBytes.toDouble, "bytes"),
      "jvm.peak_rss_mb" -> (peakRssMb(), "MB"),
      "trace.wall_s" -> (o.wallS, "s"),
      "trace.refreshes" -> (o.refreshes.size.toDouble, "count"),
      "trace.requests" -> (o.requests.size.toDouble, "count"),
      "trace.request_s.p50" -> (medianOrNaN(o.requests), "s"),
      "trace.request_s.tail" ->
        (if (o.requests.isEmpty) Double.NaN else Stats.tail(o.requests)._2, "s"))
    m.result()
  }
}
