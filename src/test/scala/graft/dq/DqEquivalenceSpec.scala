package graft.dq

import java.time.LocalDate

import graft.SparkSpec
import graft.pipeline._

/** Pins the exact results — name, verdict, detail, spec order — that the
  * checks give on the inputs where a shared scan could plausibly differ
  * from one action per check: empty and all-NULL data, NaN, NULL keys,
  * several unique keys, absent and mistyped columns, skipped checks, and
  * a source whose own `ds` column meets the raw zone's partition column.
  */
class DqEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val asOf = java.sql.Date.valueOf("2024-02-04")
  private def parent = Seq(1L, 2L).toDF("pid")
  private def r(name: String, passed: Boolean, detail: String) = CheckResult(name, passed, detail)
  private def freshnessNull = r("freshness", passed = false,
    "newest=null cutoff=2024-01-28 as_of=2024-02-04 max_age_days=7")

  /** One check of every type over the columns id, name, q and ts. */
  private def everyType(dir: String) = Seq(
    SourceExists(dir), MinRowCount(1), RequiredColumns(Seq("id", "name")),
    UniqueColumn("id"), NullRatio("name", 1, 2), ValueRange("q", 0.0, 10.0),
    FkIntegrity("id", parent, "pid"), Freshness("ts", asOf, 7))

  private def tmp() = java.nio.file.Files.createTempDirectory("dqeq").toString

  test("an empty frame: zero counts, no newest value") {
    val dir = tmp()
    val empty = Seq.empty[(Long, String, Double, java.sql.Timestamp)].toDF("id", "name", "q", "ts")
    assert(DataQuality.runAll(empty, everyType(dir)) == Seq(
      r("source_exists", passed = true, s"$dir present"),
      r("min_row_count", passed = false, "observed=0 threshold=1"),
      r("required_columns", passed = true, "all present"),
      r("unique_column", passed = true, "dup_keys=0"),
      r("null_ratio", passed = true, "nulls=0 rows=0 max=1/2"),
      r("value_range", passed = true, "violations=0 range=[0.0,10.0]"),
      r("fk_integrity", passed = true, "orphans=0"),
      freshnessNull))
  }

  test("an all-NULL column: one NULL key group, every value NULL") {
    val df = Seq[(Long, Option[String], Option[Double], Option[java.sql.Timestamp])](
      (1L, None, None, None), (2L, None, None, None)).toDF("id", "name", "q", "ts")
    assert(DataQuality.runAll(df, Seq(MinRowCount(2), UniqueColumn("name"),
      NullRatio("name", 1, 2), ValueRange("q", 0.0, 10.0), Freshness("ts", asOf, 7))) == Seq(
      r("min_row_count", passed = true, "observed=2 threshold=2"),
      r("unique_column", passed = false, "dup_keys=1"),
      r("null_ratio", passed = false, "nulls=2 rows=2 max=1/2"),
      r("value_range", passed = true, "violations=0 range=[0.0,10.0]"),
      freshnessNull))
  }

  test("NaN is above every bound and one key; it is not NULL") {
    val df = Seq(1.0, Double.NaN, 5.0, Double.NaN).toDF("q")
    assert(DataQuality.runAll(df, Seq(ValueRange("q", 0.0, 10.0), UniqueColumn("q"),
      NullRatio("q", 0, 1))) == Seq(
      r("value_range", passed = false, "violations=2 range=[0.0,10.0]"),
      r("unique_column", passed = false, "dup_keys=1"),
      r("null_ratio", passed = true, "nulls=0 rows=4 max=0/1")))
  }

  test("duplicate NULL keys count as one duplicate key") {
    val df = Seq(Some(1L), None, None, Some(2L), Some(2L)).toDF("k")
    assert(DataQuality.runAll(df, Seq(UniqueColumn("k"), MinRowCount(5))) == Seq(
      r("unique_column", passed = false, "dup_keys=2"),
      r("min_row_count", passed = true, "observed=5 threshold=5")))
  }

  test("unique_column on two columns, and twice on one") {
    val df = Seq((1L, "ada"), (2L, "bob"), (3L, "ada"), (4L, "ada")).toDF("id", "name")
    assert(DataQuality.runAll(df, Seq(UniqueColumn("id"), MinRowCount(3),
      UniqueColumn("name"), NullRatio("name", 0, 1), UniqueColumn("id"))) == Seq(
      r("unique_column", passed = true, "dup_keys=0"),
      r("min_row_count", passed = true, "observed=4 threshold=3"),
      r("unique_column", passed = false, "dup_keys=1"),
      r("null_ratio", passed = true, "nulls=0 rows=4 max=0/1"),
      r("unique_column", passed = true, "dup_keys=0")))
  }

  test("data columns named like the shared pass's own columns") {
    val df = Seq((1L, Some(1L)), (1L, None), (2L, Some(3L))).toDF("__dq_cnt", "__dq_0")
    assert(DataQuality.runAll(df, Seq(UniqueColumn("__dq_cnt"), NullRatio("__dq_0", 1, 2),
      UniqueColumn("__dq_0"))) == Seq(
      r("unique_column", passed = false, "dup_keys=1"),
      r("null_ratio", passed = true, "nulls=1 rows=3 max=1/2"),
      r("unique_column", passed = true, "dup_keys=0")))
  }

  test("absent and non-numeric columns fail without a scan error") {
    val df = Seq((1L, "ada"), (9L, "bob")).toDF("id", "name")
    assert(DataQuality.runAll(df, Seq(UniqueColumn("nope"), NullRatio("nope", 1, 2),
      ValueRange("nope", 0.0, 1.0), ValueRange("name", 0.0, 1.0), Freshness("nope", asOf, 7),
      FkIntegrity("nope", parent, "pid"), FkIntegrity("id", parent, "pid_typo"),
      RequiredColumns(Seq("id", "nope")), FkIntegrity("id", parent, "pid"))) == Seq(
      r("unique_column", passed = false, "column nope absent"),
      r("null_ratio", passed = false, "column nope absent"),
      r("value_range", passed = false, "column nope absent"),
      r("value_range", passed = false, "column name not numeric (string)"),
      r("freshness", passed = false, "column nope absent"),
      r("fk_integrity", passed = false, "column nope absent"),
      r("fk_integrity", passed = false, "parent column pid_typo absent"),
      r("required_columns", passed = false, "missing=nope"),
      r("fk_integrity", passed = false, "orphans=1")))
  }

  test("unknown checks between real ones are skipped in place") {
    val df = Seq((1L, Some("ada")), (2L, None)).toDF("id", "name")
    assert(DataQuality.runAll(df, Seq(MinRowCount(1), UnknownCheck("row_hash_audit"),
      UniqueColumn("id"), UnknownCheck("x"), NullRatio("name", 1, 2))) == Seq(
      r("min_row_count", passed = true, "observed=2 threshold=1"),
      r("unique_column", passed = true, "dup_keys=0"),
      r("null_ratio", passed = true, "nulls=1 rows=2 max=1/2")))
  }

  // ---- through Pipeline.run: the raw-zone write and its read-back --------

  private class Payload(body: String) extends Fetcher {
    def fetch(endpoint: String, params: Map[String, String]): String = body
  }
  private object NoAlerts extends AlertSink {
    def alert(pipelineName: String, failures: Seq[String]): Unit = ()
  }
  private def runPipeline(payload: String, checks: Seq[Check]): PipelineResult =
    Pipeline.run(spark, PipelineSpec(PipelineInfo("eq", "o", "@daily", Nil, ""),
      ApiSource("c", "https://example.invalid/u", Map.empty), RawZoneDest(tmp(), "raw/t"),
      checks), LocalDate.parse("2024-05-01"), new Payload(payload), NoAlerts)

  test("a zero-column ingest skips the write and fails on rows, not on a throw") {
    val res = runPipeline("[]", Seq(MinRowCount(1), RequiredColumns(Seq("id")),
      UniqueColumn("id"), NullRatio("id", 1, 2), ValueRange("id", 0.0, 1.0),
      Freshness("id", asOf, 7)))
    assert(res.rows == 0 && res.rawPath == "" && !res.passed)
    assert(res.results == Seq(
      r("min_row_count", passed = false, "observed=0 threshold=1"),
      r("required_columns", passed = false, "missing=id"),
      r("unique_column", passed = false, "column id absent"),
      r("null_ratio", passed = false, "column id absent"),
      r("value_range", passed = false, "column id absent"),
      r("freshness", passed = false, "column id absent")))
  }

  test("a source's own ds or DS column gives way to the raw zone's partition column") {
    for (dsName <- Seq("ds", "DS")) {
      val res = runPipeline(
        s"""[{"id": 1, "$dsName": "x", "v": 1.5}, {"id": 2, "$dsName": "y", "v": null}]""",
        Seq(RequiredColumns(Seq("id", dsName, "v")), UniqueColumn(dsName), MinRowCount(2),
          NullRatio("v", 1, 2), ValueRange("v", 0.0, 2.0), UniqueColumn("id")))
      assert(res.rows == 2, dsName)
      assert(res.results == Seq(
        r("required_columns", passed = false, s"missing=$dsName"),
        r("unique_column", passed = false, s"column $dsName absent"),
        r("min_row_count", passed = true, "observed=2 threshold=2"),
        r("null_ratio", passed = true, "nulls=1 rows=2 max=1/2"),
        r("value_range", passed = true, "violations=0 range=[0.0,2.0]"),
        r("unique_column", passed = true, "dup_keys=0")), dsName)
    }
  }
}
