package graft.pipeline

import java.time.LocalDate

import scala.collection.mutable

import graft.SparkSpec

class PipelineRunSpec extends SparkSpec {

  private val usersPayload =
    """[{"id": 1, "name": "Ada", "email": "a@x.com"},
      | {"id": 2, "name": "Bob", "email": "b@x.com"},
      | {"id": 3, "name": "Eve", "email": "e@x.com"}]""".stripMargin

  private class StubFetcher(payload: String) extends Fetcher {
    var lastParams: Map[String, String] = Map.empty
    def fetch(endpoint: String, params: Map[String, String]): String = {
      lastParams = params; payload
    }
  }

  private class RecordingAlerts extends AlertSink {
    val alerts = mutable.Buffer.empty[(String, Seq[String])]
    def alert(name: String, failures: Seq[String]): Unit = alerts += (name -> failures)
  }

  private def spec(checks: Seq[graft.dq.Check], bucket: String) = PipelineSpec(
    PipelineInfo("p1", "o", "@daily", Nil, ""),
    ApiSource("c", "https://example.invalid/u", Map("report_date" -> "{{ ds }}")),
    RawZoneDest(bucket, "raw/users"),
    checks)

  private def tmp() = java.nio.file.Files.createTempDirectory("pipe").toString

  test("passing pipeline: ingest -> raw zone -> checks -> PASSED, no alert") {
    import graft.dq._
    val fetcher = new StubFetcher(usersPayload)
    val alerts = new RecordingAlerts
    val r = Pipeline.run(spark, spec(Seq(MinRowCount(3), UniqueColumn("id"),
      RequiredColumns(Seq("id", "name", "email"))), tmp()),
      LocalDate.parse("2024-05-01"), fetcher, alerts)
    assert(r.passed && r.rows == 3)
    assert(r.results.forall(_.passed))
    assert(alerts.alerts.isEmpty)
    assert(fetcher.lastParams == Map("report_date" -> "2024-05-01")) // ds templated
  }

  test("failing pipeline: verdict false, alert carries real failure details") {
    import graft.dq._
    val alerts = new RecordingAlerts
    val r = Pipeline.run(spark, spec(Seq(MinRowCount(99), UniqueColumn("id")), tmp()),
      LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), alerts)
    assert(!r.passed)
    assert(alerts.alerts.size == 1)
    val (name, failures) = alerts.alerts.head
    assert(name == "p1")
    assert(failures.exists(_.contains("min_row_count")))
    assert(!failures.exists(_.contains("unique_column"))) // only failures alert
  }

  test("unknown check types are skipped, not failed (reference semantics)") {
    import graft.dq._
    val r = Pipeline.run(spark, spec(Seq(UnknownCheck("anomaly"), MinRowCount(1)), tmp()),
      LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    assert(r.passed)
    assert(r.results.map(_.checkName) == Seq("min_row_count"))
  }

  test("a zero-row ingest writes no partition and fails min_row_count, not the run") {
    import graft.dq._
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/empty.csv"), "id,name\n")
    val s = PipelineSpec(PipelineInfo("p0", "o", "@daily", Nil, ""),
      FileSource("csv", s"$dir/empty.csv", Map("header" -> "true")),
      RawZoneDest(dir, "raw/users"), Seq(MinRowCount(1), RequiredColumns(Seq("id", "name"))))
    val r = Pipeline.run(spark, s, LocalDate.parse("2024-05-01"),
      new StubFetcher(""), new RecordingAlerts)
    assert(!r.passed && r.rows == 0)
    assert(r.results == Seq(
      CheckResult("min_row_count", passed = false, "observed=0 threshold=1"),
      CheckResult("required_columns", passed = true, "all present")))
  }

  test("a zero-row rerun of a ds replaces its earlier partition instead of checking stale rows") {
    import graft.dq._
    val dir = tmp()
    val csv = java.nio.file.Paths.get(s"$dir/users.csv")
    val s = PipelineSpec(PipelineInfo("p0", "o", "@daily", Nil, ""),
      FileSource("csv", csv.toString, Map("header" -> "true")),
      RawZoneDest(dir, "raw/users"), Seq(MinRowCount(1)))
    java.nio.file.Files.writeString(csv, "id,name\n1,Ada\n2,Bob\n3,Eve\n")
    val first = Pipeline.run(spark, s, LocalDate.parse("2024-05-01"),
      new StubFetcher(""), new RecordingAlerts)
    assert(first.passed && first.rows == 3)
    java.nio.file.Files.writeString(csv, "id,name\n")
    val r = Pipeline.run(spark, s, LocalDate.parse("2024-05-01"),
      new StubFetcher(""), new RecordingAlerts)
    assert(r.rows == 0 && !r.passed)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/raw/users/ds=2024-05-01")))
  }

  test("rerun of the same ds overwrites that partition only") {
    import graft.dq._
    val bucket = tmp()
    val s = spec(Seq(MinRowCount(1)), bucket)
    Pipeline.run(spark, s, LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    Pipeline.run(spark, s, LocalDate.parse("2024-05-02"), new StubFetcher(usersPayload), new RecordingAlerts)
    val r = Pipeline.run(spark, s, LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    assert(r.rows == 3) // not 6: the rerun replaced, not appended
    assert(spark.read.parquet(r.rawPath).count() == 6) // both ds partitions live
  }

  test("backfill runs every date in the window; re-backfill is idempotent") {
    import graft.dq._
    val bucket = tmp()
    val s = spec(Seq(MinRowCount(1)), bucket)
    val fetcher = new StubFetcher(usersPayload)
    val results = Pipeline.backfill(spark, s,
      LocalDate.parse("2024-06-01"), LocalDate.parse("2024-06-03"),
      fetcher, new RecordingAlerts)
    assert(results.map(_._1.toString) == Seq("2024-06-01", "2024-06-02", "2024-06-03"))
    assert(results.forall(_._2.get.passed))
    val root = results.head._2.get.rawPath
    assert(spark.read.parquet(root).count() == 9) // 3 rows × 3 ds partitions
    // re-running the same window replaces each ds partition, no duplication
    Pipeline.backfill(spark, s,
      LocalDate.parse("2024-06-01"), LocalDate.parse("2024-06-03"),
      fetcher, new RecordingAlerts)
    assert(spark.read.parquet(root).count() == 9)
  }
}
