package medbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator's truth against what the program produces from its files. */
class PipelineTruthSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  private def fresh(): (Path, Medallion, Probe) = {
    val dir = Files.createTempDirectory("medbench_pipe")
    val probe = new Probe(spark, tracing = false)
    (dir, new Medallion(spark, dir.resolve("wh").toString,
      dir.resolve("land").toString, probe), probe)
  }

  test("on a tiny seed, Silver, Gold, the ledger and every request match the truth") {
    val (dir, med, probe) = fresh()
    val truth = new Truth
    val land = dir.resolve("land")
    Gen.writeDrop(land, "h", 3, 0, 3, truth)
    assert(med.refresh() == 0)
    Gen.writeDrop(land, "d3", 3, 3, 1, truth, correct = Some(2))
    assert(med.refresh() == 0)
    val (bad, checks) = med.check(truth)
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(checks > 20)
    assert(truth.correctedDays == 1)

    val client = new DashboardClient(med, probe)
    val from = Gen.baseDate(3)
    for (kind <- Workloads.RequestKinds; (d1, d2) <- Seq(from -> from.plusDays(30),
        from.plusDays(2) -> from.plusDays(2))) {
      val got = client.request(kind, d1, d2)
      val want = DashboardClient.truthFor(truth, kind, d1, d2)
      assert(DashboardClient.same(got, want), s"$kind $d1..$d2: $got vs $want")
    }
  }

  test("a broken pipeline fails the check") {
    val (dir, med, _) = fresh()
    val truth = new Truth
    Gen.writeDrop(dir.resolve("land"), "h", 4, 0, 1, truth)
    med.refresh()
    truth.tx += Tx(Some(Gen.baseDate(4)), "Food", Some(100L), "extra", "none")
    val (bad, _) = med.check(truth)
    assert(bad.exists(_.startsWith("silver.transactions rows")))
  }

  // Known program defect: a zero-row file as the first landing of a table
  // leaves a Bronze directory without parquet files, and Silver's pending
  // batch scan then fails to infer its schema. The daily workload starts
  // from a history drop, so its zero-flight days never land first.
  test("a zero-row first landing leaves Silver runnable") {
    pendingUntilFixed {
      val (dir, med, _) = fresh()
      val land = Files.createDirectories(dir.resolve("land"))
      Files.writeString(land.resolve("flight_logs_x.csv"),
        "date,flight_number,from,to,dep_time,arr_time,duration,airline,aircraft," +
          "registration,seat_number,seat_type,flight_class,flight_reason,note," +
          "dep_id,arr_id,airline_id,aircraft_id\n")
      med.refresh()
    }
  }
}
