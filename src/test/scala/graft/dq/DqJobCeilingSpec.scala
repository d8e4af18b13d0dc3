package graft.dq

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.graft.JobCounter

import graft.SparkSpec
import graft.pipeline.{AlertSink, Pipeline, PipelineSpec}

/** Job-count ceilings on the pipeline path: a check that starts running its
  * own scan again fails here, not only in a benchmark.
  */
class DqJobCeilingSpec extends SparkSpec {
  import spark.implicits._

  test("scalar checks share one action") {
    val df = Seq((1L, Some("a"), 2.0, "2024-02-01"), (2L, None, 20.0, "2024-02-03"))
      .toDF("id", "name", "q", "ts")
    val (results, count) = JobCounter(spark) {
      DataQuality.runAll(df, Seq(MinRowCount(1), NullRatio("name", 1, 2),
        RequiredColumns(Seq("id")), ValueRange("q", 0.0, 10.0),
        Freshness("ts", java.sql.Date.valueOf("2024-02-04"), 7)))
    }
    assert(results.map(_.passed) == Seq(true, true, true, false, true))
    assert(count.actions == 1, count)
  }

  test("Pipeline.run with every YAML check type runs at most 5 jobs") {
    val dir = Files.createTempDirectory("dqjobs").toString
    val ds = "2024-03-01"
    Files.createDirectories(Paths.get(s"$dir/landing/$ds"))
    Files.writeString(Paths.get(s"$dir/landing/$ds/events.json"), (0 until 200).map(i =>
      f"""{"event_id":$i,"ts":"$ds 00:00:${i % 60}%02d","user_id":${i % 7},"value":${i * 0.5}}""")
      .mkString("", "\n", "\n"))
    val spec = PipelineSpec.fromYaml(
      s"""pipeline_info: {name: ceiling, owner: o, schedule: "@daily"}
         |source: {type: json, path: "$dir/landing/{{ ds }}/events.json"}
         |destination: {bucket: "$dir/raw", path: "events/{{ ds }}"}
         |data_quality_checks:
         |  - {check_type: source_exists, path: "$dir/landing/{{ ds }}/events.json"}
         |  - {check_type: min_row_count, threshold: 100}
         |  - {check_type: required_columns, columns: [event_id, ts, user_id, value]}
         |  - {check_type: unique_column, column: event_id}
         |  - {check_type: null_ratio, column: user_id, max_ratio: 0.01}
         |  - {check_type: value_range, column: value, min: 0, max: 1000}
         |  - {check_type: freshness, column: ts, as_of: "$ds", max_age_days: 2}
         |  - {check_type: row_hash_audit}
         |""".stripMargin)
    val sink = new AlertSink { def alert(name: String, failures: Seq[String]): Unit = () }
    val (res, count) = JobCounter(spark) {
      Pipeline.run(spark, spec, LocalDate.parse(ds), alertSink = sink)
    }
    assert(res.passed && res.rows == 200 && res.results.size == 7, res)
    assert(count.jobs <= 5, count)
  }
}
