package medbench

import graft.pipeline.{Dashboard, Gold}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** What a workload hands back to [[Main]]. `timedStartMs` is the wall
  * clock when the first timed operation began; `refreshes` are the
  * latencies of the timed operations (drops carried to Gold, or chain
  * members recomputed after invalidation); `requests` those of the
  * dashboard requests of the read phase; `items` is the work the timed
  * phase carried (input rows or documents); `afterRun` runs once the
  * metrics are taken and may stop the session.
  */
final case class Outcome(timedStartMs: Long, wallS: Double,
    refreshes: Seq[Double], requests: Seq[Double], items: Double,
    attempted: Int, failed: Int, layer: Map[String, Double] = Map.empty,
    afterRun: () => Unit = () => ())

final case class Ctx(spark: SparkSession, probe: Probe, seed: Long,
    seconds: Int, work: Path, cores: Int) {
  /** Timed refreshes per run: one per started 10 s of `--seconds`. */
  def refreshes: Int = math.max(1, (seconds + 9) / 10)

  def log(msg: String): Unit = System.err.println(s"[medbench] $msg")

  /** Run one set-up step and log how long it took. */
  def step[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    log(f"set-up: $what took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}

/** The clock of a timed phase of sequential operations. */
final class Timed {
  private var startNs = 0L
  private var endNs = 0L
  var startMs = 0L
  val refreshes = ArrayBuffer.empty[Double]

  def start(): Unit = { startMs = System.currentTimeMillis(); startNs = System.nanoTime() }
  def stop(): Unit = endNs = System.nanoTime()
  def wallS: Double = (endNs - startNs) / 1e9
}

object Workloads {
  val names: Seq[String] = Seq("daily_increments", "corpus_curation")

  def run(name: String, c: Ctx): Outcome = name match {
    case "daily_increments" => dailyIncrements(c)
    case "corpus_curation"  => corpusCuration(c)
  }

  /** Days of history the warehouse holds before the first daily drop. */
  val HistoryDays = 15
  /** Timed dashboard requests of a traced run's read phase: every kind
    * this many times. The read phase samples the read path for the
    * per-layer metrics and the response checks; it models no traffic and
    * no end-to-end metric includes it.
    */
  val ReadsPerKind = 2

  val RequestKinds: Seq[String] = Seq("visits", "movements", "logs",
    "transactions", "flights", "sleep", "daily_steps", "spend_by_type",
    "top_transactions", "distance_by_mode", "daily_summary")

  /** Move every file of a staged drop into the landing directory. */
  private def land(files: Seq[Path], landing: Path): Unit =
    files.foreach(f => Files.move(f, landing.resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE))

  /** Closed loop of one-day drops into one warehouse that starts from a
    * [[HistoryDays]] history drop: each drop lands only after the previous
    * one reached Gold. The drop of every 4th day, the first timed one
    * included, also re-uploads a corrected copy of the previous day's
    * transactions and manual log under new file names. After the timed
    * phase, a read phase asks every dashboard request kind once, untimed,
    * and in a traced run [[ReadsPerKind]] more times, timed, each over a
    * seeded window of the landed history.
    */
  def dailyIncrements(c: Ctx): Outcome = {
    val truth = new Truth
    val landing = c.work.resolve("land")
    val med = new Medallion(c.spark, c.work.resolve("wh").toString, landing.toString, c.probe)
    val base = Gen.baseDate(c.seed)
    c.step("history drop")(Gen.writeDrop(landing, "history", c.seed, 0,
      HistoryDays, truth))
    c.step("history refresh")(med.refresh())

    val rowsBefore = truth.inputRows
    val days = HistoryDays until HistoryDays + c.refreshes
    val staged = days.map { d =>
      Gen.writeDrop(c.work.resolve(s"stage/$d"), f"d$d%05d", c.seed, d,
        1, truth, if (d % 4 == 3) Some(d - 1) else None)
    }
    val t = new Timed
    var failed = 0
    t.start()
    staged.foreach { files =>
      val (bad, s) = c.probe.op("drop") {
        try { land(files, landing); med.refresh() }
        catch { case e: Exception => c.log(s"refresh failed: $e"); 1 }
      }
      if (bad > 0) failed += 1
      t.refreshes += s
    }
    t.stop()

    val client = new DashboardClient(med, c.probe)
    val r = Gen.rng(c.seed, -1, 99)
    def window(): (LocalDate, LocalDate) = {
      val d1 = base.plusDays(r.nextInt(days.end).toLong)
      (d1, d1.plusDays(r.nextInt(31).toLong))
    }
    def ask(k: String, d1: LocalDate, d2: LocalDate) =
      try Some(client.request(k, d1, d2))
      catch { case e: Exception => c.log(s"$k failed: $e"); None }
    // untimed, so the timed requests are warm; untraced runs check only these
    val warm = RequestKinds.map { k =>
      val (d1, d2) = window()
      (k, d1, d2, ask(k, d1, d2))
    }
    val sampled =
      if (!c.probe.tracing) Seq.empty
      else new scala.util.Random(r.nextLong())
        .shuffle(RequestKinds.flatMap(Seq.fill(ReadsPerKind)(_))).map { k =>
          val (d1, d2) = window()
          val (a, s) = c.probe.op(k)(ask(k, d1, d2))
          (k, d1, d2, a, s)
        }
    val answers = warm ++ sampled.map { case (k, d1, d2, a, _) => (k, d1, d2, a) }
    answers.foreach { case (k, d1, d2, a) =>
      val want = DashboardClient.truthFor(truth, k, d1, d2)
      if (!a.exists(DashboardClient.same(_, want))) {
        failed += 1
        c.log(s"$k $d1..$d2: got $a, want $want")
      }
    }
    val (bad, checks) = med.check(truth)
    bad.foreach(m => c.log(s"check failed: $m"))
    // the warehouse scan feeds per-layer metrics only
    val storage =
      if (!c.probe.tracing) Map.empty[String, Double]
      else {
        val scan = med.scan()
        scan + ("catalog.bytes_per_input_byte" -> scan("catalog.stored_bytes") / truth.inputBytes)
      }
    Outcome(t.startMs, t.wallS, t.refreshes.toSeq, sampled.map(_._5),
      (truth.inputRows - rowsBefore).toDouble,
      staged.size + answers.size + checks, failed + bad.size, storage)
  }

  /** Corpus size as a DataGen scale factor: 0.01 is 500 documents and
    * 200 embeddings.
    */
  val CorpusScale = 0.01

  val SubstrateLines: Seq[String] = Seq("q00a_sub_minhash", "q00b_sub_simhash",
    "q00c_sub_trigrams", "q00e_sub_lshbands", "q00f_sub_knnedges")
  val ChainQueries: Seq[String] = Seq("q34_dedup_exact", "q36_minhash_lsh",
    "q37_simhash", "q46_near_dup_keep", "q49_dup_clusters",
    "q59_simhash_hamming", "q62_curation", "q143_full_pipeline",
    "q40_cosine_topk", "q45_ivf_ann")
  val Trainer = "q56_kmeans_codebook"

  /** The near-dup and similarity chain over a generated corpus: invalidate
    * every session cache, rebuild the substrates, train the codebook, then
    * run the queries in a seeded order, each followed by one job that
    * counts and hashes its rows. Set-up runs one untimed iteration whose
    * hashes every timed iteration must reproduce. After the run,
    * `graft.Verify` writes the results for the oracle comparison.
    */
  def corpusCuration(c: Ctx): Outcome = {
    val dir = c.work.resolve("corpus").toString
    c.step("corpus generation") {
      graft.DataGen.documents(c.spark, CorpusScale).write.parquet(s"$dir/documents.parquet")
      graft.DataGen.embeddings(c.spark, CorpusScale).write.parquet(s"$dir/embeddings.parquet")
    }
    val docs = c.spark.read.parquet(s"$dir/documents.parquet").count()
    val chain = new Chain(c.spark, c.probe, dir)
    val order = new scala.util.Random(c.seed).shuffle(ChainQueries)
    val (reference, _) = c.step("untimed iteration")(chain.iteration(order))
    val t = new Timed
    val results = ArrayBuffer.empty[Option[Map[String, (Long, Long)]]]
    t.start()
    for (_ <- 0 until c.refreshes) {
      val (res, _) = c.probe.op("chain") {
        try Some(chain.iteration(order))
        catch { case e: Exception => c.log(s"chain failed: $e"); None }
      }
      res.foreach(r => t.refreshes ++= r._2)
      results += res.map(_._1)
    }
    t.stop()
    var failed = 0
    val members = SubstrateLines.size + 1 + ChainQueries.size
    results.foreach {
      case None => failed += members
      case Some(res) => res.foreach { case (q, h) =>
        if (!reference.get(q).contains(h)) {
          failed += 1
          c.log(s"$q: $h differs from the untimed iteration's ${reference.get(q)}")
        }
      }
    }
    val out = c.work.resolve("corpus_out").toString
    val dump = (Trainer +: ChainQueries).filter(graft.SparkEntry.oracleSql.contains)
    Outcome(t.startMs, t.wallS, t.refreshes.toSeq, Seq.empty,
      docs.toDouble * results.size, results.size * members, failed,
      afterRun = () => graft.Verify.main(Array(dir, out, dump.mkString(","))))
  }
}

/** One chain of the corpus workload over a fixture directory. */
final class Chain(spark: SparkSession, probe: Probe, dir: String) {
  private def hashed(name: String): (Long, Long) = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0x7fffffffL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Returns (rows, hash) per chain member and the latency of each
    * member's recomputation after the invalidation.
    */
  def iteration(order: Seq[String]): (Map[String, (Long, Long)], Seq[Double]) = {
    (Workloads.SubstrateLines ++ (Workloads.Trainer +: order))
      .foreach(graft.Substrates.invalidate(_, spark))
    val subs = graft.Substrates.builds.toMap
    val built = Workloads.SubstrateLines.map { s =>
      timed(s -> probe.call("substrate", s)((subs(s)(spark, dir).count(), 0L)))
    }
    val queried = (Workloads.Trainer +: order).map { q =>
      timed(q -> probe.call("query", q)(hashed(q)))
    }
    val all = built ++ queried
    (all.map(_._1).toMap, all.map(_._2))
  }
}

/** The dashboard's read path: each request reads its Silver tables through
  * the catalog, runs one `Dashboard` function (or `Gold.dailySummary`) and
  * collects the result, summarised as named numbers for the check.
  */
final class DashboardClient(med: Medallion, probe: Probe) {
  private def silver(t: String) = med.read("silver", t)
  private def dash(fn: String)(rows: => Array[Row]): Array[Row] =
    probe.call("dashboard", fn)(rows)

  private def sumOf(rows: Array[Row], c: String): Double =
    rows.flatMap(r => Option(r.getAs[Any](c))).map(_.toString.toDouble).sum

  private def valueOrNaN(r: Row, c: String): Double =
    Option(r.getAs[Any](c)).map(_.toString.toDouble).getOrElse(Double.NaN)

  def request(kind: String, from: LocalDate, to: LocalDate): Map[String, Double] = {
    val (d1, d2) = (from.toString, to.toString)
    def n(rows: Array[Row]) = Map("n" -> rows.length.toDouble)
    kind match {
      case "visits" => n(dash(kind)(Dashboard.visits(silver("timeline_segments"), d1, d2).collect()))
      case "movements" => n(dash(kind)(Dashboard.movements(silver("timeline_segments"), d1, d2).collect()))
      case "logs" => n(dash(kind)(Dashboard.logs(silver("manual_logs"), d1, d2).collect()))
      case "flights" => n(dash(kind)(Dashboard.flights(silver("flight_logs"), d1, d2).collect()))
      case "sleep" => n(dash(kind)(Dashboard.sleep(silver("sleep_scores"), d1, d2).collect()))
      case "transactions" =>
        val rows = dash(kind)(Dashboard.transactions(silver("transactions"), d1, d2).collect())
        n(rows) + ("sum" -> sumOf(rows, "amount"))
      case "daily_steps" =>
        val rows = dash(kind)(Dashboard.dailySteps(silver("steps_hourly"), d1, d2).collect())
        n(rows) + ("sum" -> sumOf(rows, "total_steps"))
      case "spend_by_type" =>
        dash(kind)(Dashboard.spendByType(silver("transactions"), d1, d2).collect())
          .map(r => s"type:${r.getAs[String]("type")}" -> valueOrNaN(r, "total_amount")).toMap
      case "top_transactions" =>
        dash(kind)(Dashboard.topTransactions(silver("transactions"), d1, d2).collect())
          .zipWithIndex.map { case (r, i) => s"top:$i" -> valueOrNaN(r, "amount") }.toMap
      case "distance_by_mode" =>
        dash(kind)(Dashboard.distanceByMode(silver("timeline_segments"), d1, d2).collect())
          .flatMap { r =>
            val m = r.getAs[String]("activity_type")
            Seq(s"km:$m" -> valueOrNaN(r, "total_km"), s"n:$m" -> valueOrNaN(r, "n_segments"))
          }.toMap
      case "daily_summary" =>
        val json = probe.call("gold", "daily_summary")(Gold.dailySummary(d1,
          silver("daily_spend"), silver("steps_hourly"), silver("sleep_scores"),
          silver("manual_logs"), silver("flight_logs"), silver("timeline_segments")))
        def field(k: String) =
          s""""$k":([-0-9.Ee]+)""".r.findFirstMatchIn(json).map(_.group(1).toDouble)
            .getOrElse(Double.NaN)
        Map("spent" -> field("TOTAL_SPENT"), "steps" -> field("TOTAL_STEPS"))
    }
  }
}

object DashboardClient {
  /** The answer a request must get from a warehouse holding `truth`. */
  def truthFor(truth: Truth, kind: String, from: LocalDate, to: LocalDate): Map[String, Double] = {
    def in(d: LocalDate) = !d.isBefore(from) && !d.isAfter(to)
    def n(k: Int) = Map("n" -> k.toDouble)
    val tx = truth.tx.filter(_.date.exists(in))
    val moves = truth.segments.filter(s => !s.visit && s.mode != "FLYING" && in(s.date))
    kind match {
      case "visits" => n(truth.segments.count(s => s.visit && s.hasCoords && in(s.date)))
      case "movements" => n(moves.size)
      case "logs" => n(truth.logs.count(l => in(l.date)))
      case "flights" => n(truth.flights.count(f => in(f.date)))
      case "sleep" => n(truth.sleepDates.count(in))
      case "transactions" => n(tx.size) + ("sum" -> truth.cents(tx) / 100.0)
      case "daily_steps" =>
        val days = truth.stepsByDate.filter { case (d, _) => in(d) }
        n(days.size) + ("sum" -> days.values.sum.toDouble)
      case "spend_by_type" =>
        tx.groupBy(_.silverType).map { case (t, xs) =>
          s"type:$t" -> (if (xs.forall(_.amountCents.isEmpty)) Double.NaN
            else truth.cents(xs) / 100.0)
        }
      case "top_transactions" =>
        val amounts = tx.map(_.amountCents.map(_ / 100.0))
        val ranked = amounts.flatten.sorted.reverse ++
          Seq.fill(amounts.count(_.isEmpty))(Double.NaN)
        ranked.take(5).zipWithIndex.map { case (a, i) => s"top:$i" -> a }.toMap
      case "distance_by_mode" =>
        moves.groupBy(_.mode).flatMap { case (m, xs) =>
          Seq(s"km:$m" -> xs.map(_.distDm).sum / 10000.0, s"n:$m" -> xs.size.toDouble)
        }
      case "daily_summary" =>
        Map("spent" -> truth.cents(truth.tx.filter(_.date.contains(from))) / 100.0,
          "steps" -> truth.stepsByDate.getOrElse(from, 0L).toDouble)
    }
  }

  def same(got: Map[String, Double], want: Map[String, Double]): Boolean =
    got.keySet == want.keySet && want.forall { case (k, w) =>
      val g = got(k)
      (g.isNaN && w.isNaN) || Checks.same(g, w)
    }
}
