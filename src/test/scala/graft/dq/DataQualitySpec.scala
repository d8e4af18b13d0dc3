package graft.dq

import graft.SparkSpec

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private def users = Seq(
    (1L, "ada", "a@x.com"),
    (2L, "bob", "b@x.com"),
    (3L, "eve", "e@x.com")
  ).toDF("id", "name", "email")

  test("min_row_count passes at and above threshold, fails below") {
    assert(DataQuality.evaluate(users, MinRowCount(3)).get.passed)
    assert(!DataQuality.evaluate(users, MinRowCount(4)).get.passed)
    assert(DataQuality.evaluate(users.limit(0), MinRowCount(0)).get.passed)
  }

  test("required_columns: set difference of expected vs present") {
    assert(DataQuality.evaluate(users, RequiredColumns(Seq("id", "name"))).get.passed)
    val r = DataQuality.evaluate(users, RequiredColumns(Seq("id", "phone", "zip"))).get
    assert(!r.passed)
    assert(r.detail == "missing=phone,zip")
  }

  test("unique_column passes on distinct, fails on duplicates") {
    assert(DataQuality.evaluate(users, UniqueColumn("id")).get.passed)
    val dup = users.union(users.limit(1))
    assert(!DataQuality.evaluate(dup, UniqueColumn("id")).get.passed)
  }

  test("unique_column fails when the column is absent (reference :104-105)") {
    val r = DataQuality.evaluate(users, UniqueColumn("nope")).get
    assert(!r.passed)
    assert(r.detail.contains("absent"))
  }

  test("unique_column NULL semantics: repeated NULLs violate uniqueness (SURVEY §7.4)") {
    val withNulls = Seq(Some(1L), None, None).toDF("id")
    assert(!DataQuality.evaluate(withNulls, UniqueColumn("id")).get.passed)
    val oneNull = Seq(Some(1L), None).toDF("id")
    assert(DataQuality.evaluate(oneNull, UniqueColumn("id")).get.passed)
  }

  test("source_exists passes for a real path, fails for a missing one (O2)") {
    val dir = java.nio.file.Files.createTempDirectory("dqsrc").toString
    users.write.parquet(s"$dir/t.parquet")
    assert(DataQuality.evaluate(users, SourceExists(s"$dir/t.parquet")).get.passed)
    val r = DataQuality.evaluate(users, SourceExists(s"$dir/absent.parquet")).get
    assert(!r.passed && r.detail.contains("missing"))
  }

  test("unknown check type warns and skips, never fails (reference :116-117)") {
    assert(DataQuality.evaluate(users, UnknownCheck("volume_anomaly")).isEmpty)
    val results = DataQuality.runAll(users,
      Seq(MinRowCount(1), UnknownCheck("x"), UniqueColumn("id")))
    assert(results.map(_.checkName) == Seq("min_row_count", "unique_column"))
    assert(DataQuality.verdict(results))
  }

  test("null_ratio: integer cross-multiplied bound, absent column fails") {
    val df = Seq(Some(1L), Some(2L), Some(3L), None).toDF("v")
    // 1 null of 4 rows: ratio 0.25 — passes at 1/4, fails at 1/5
    assert(DataQuality.evaluate(df, NullRatio("v", 1, 4)).get.passed)
    assert(!DataQuality.evaluate(df, NullRatio("v", 1, 5)).get.passed)
    assert(!DataQuality.evaluate(df, NullRatio("absent", 1, 2)).get.passed)
  }

  test("value_range: inclusive bounds, NULLs are not violations") {
    val df = Seq(Some(1.0), Some(50.0), None).toDF("q")
    assert(DataQuality.evaluate(df, ValueRange("q", 1.0, 50.0)).get.passed)
    val bad = Seq(Some(0.5), Some(51.0)).toDF("q")
    val r = DataQuality.evaluate(bad, ValueRange("q", 1.0, 50.0)).get
    assert(!r.passed && r.detail.contains("violations=2"))
  }

  test("value_range on a non-numeric column fails cleanly, never throws") {
    val strings = Seq("alpha", "beta").toDF("q")
    val r = DataQuality.evaluate(strings, ValueRange("q", 1.0, 50.0)).get
    assert(!r.passed && r.detail.contains("not numeric"))
    // and the suite keeps running past it
    val results = DataQuality.runAll(strings,
      Seq(ValueRange("q", 1.0, 50.0), MinRowCount(1)))
    assert(results.map(_.checkName) == Seq("value_range", "min_row_count"))
  }

  test("fk_integrity: orphan child keys fail, null child keys are ignored") {
    val parent = Seq(1L, 2L).toDF("pid")
    val ok = Seq(Some(1L), Some(2L), None).toDF("fk")
    assert(DataQuality.evaluate(ok, FkIntegrity("fk", parent, "pid")).get.passed)
    val orphan = Seq(Some(1L), Some(9L)).toDF("fk")
    val r = DataQuality.evaluate(orphan, FkIntegrity("fk", parent, "pid")).get
    assert(!r.passed && r.detail.contains("orphans=1"))
    // a misspelled parent column is a failed check, not an AnalysisException
    val bad = DataQuality.evaluate(ok, FkIntegrity("fk", parent, "pid_typo")).get
    assert(!bad.passed && bad.detail.contains("pid_typo"))
  }

  test("freshness: explicit as-of date, stale data fails, absent column fails") {
    val df = Seq("2024-01-28 10:00:00", "2024-01-15 00:00:00")
      .toDF("s").select($"s".cast("timestamp").as("ts"))
    val asOf = java.sql.Date.valueOf("2024-02-04")
    assert(DataQuality.evaluate(df, Freshness("ts", asOf, 7)).get.passed)
    val r = DataQuality.evaluate(df, Freshness("ts", asOf, 5)).get
    assert(!r.passed && r.detail.contains("newest=2024-01-28"))
    assert(!DataQuality.evaluate(df, Freshness("nope", asOf, 7)).get.passed)
    // all-null timestamp column: no watermark => stale, not a throw
    val nulls = Seq.empty[String].toDF("s").select($"s".cast("timestamp").as("ts"))
    assert(!DataQuality.evaluate(nulls, Freshness("ts", asOf, 7)).get.passed)
  }

  test("freshness under ANSI: a malformed timestamp counts as absent, never throws") {
    val asOf = java.sql.Date.valueOf("2024-02-04")
    val df = Seq("2024-01-28 10:00:00", "not a time", "2024-01-15").toDF("ts")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      assert(DataQuality.runAll(df, Seq(MinRowCount(3), Freshness("ts", asOf, 7))) == Seq(
        CheckResult("min_row_count", passed = true, "observed=3 threshold=3"),
        CheckResult("freshness", passed = true,
          "newest=2024-01-28 cutoff=2024-01-28 as_of=2024-02-04 max_age_days=7")))
      val junk = Seq("never", "nope").toDF("ts")
      assert(DataQuality.evaluate(junk, Freshness("ts", asOf, 7)).get ==
        CheckResult("freshness", passed = false,
          "newest=null cutoff=2024-01-28 as_of=2024-02-04 max_age_days=7"))
      // a column that cannot hold a date fails as a check, like a mistyped value_range
      assert(DataQuality.evaluate(Seq(1L).toDF("ts"), Freshness("ts", asOf, 7)).get ==
        CheckResult("freshness", passed = false, "column ts not a date or timestamp (bigint)"))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("failures accumulate in spec order; verdict is a value, not a throw") {
    val results = DataQuality.runAll(users,
      Seq(MinRowCount(99), RequiredColumns(Seq("zip")), UniqueColumn("id")))
    assert(results.count(!_.passed) == 2)
    assert(results.map(_.checkName) ==
      Seq("min_row_count", "required_columns", "unique_column"))
    assert(!DataQuality.verdict(results))
  }
}
