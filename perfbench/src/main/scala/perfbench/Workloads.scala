package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipeline.{AlertSink, Pipeline, PipelineResult, PipelineSpec}
import graft.streaming.Streaming

/** One workload: a pass is a sweep over `ops(pass)`. Only `run` is timed;
  * the hooks around it prepare inputs and check outputs.
  */
trait Workload {
  def ops(pass: Int): Seq[String]
  def beforePass(pass: Int): Unit = ()
  def beforeOp(op: String): Unit = ()
  /** Runs one op; `built()` marks the end of frame build where there is one. */
  def run(op: String, built: () => Unit): Unit
  /** Checks the op's output; Some(reason) marks the op failed. */
  def afterOp(op: String): Option[String] = None
  /** Checks the pass's output; Some(reason) marks every op of the pass failed. */
  def afterPass(pass: Int, progress: Seq[Map[String, Any]]): Option[String] = None
  /** Facts about the inputs, recorded in the result file. */
  def describe: Map[String, Any]
  /** Switches the op's output to where a post-run check can read it. */
  def verifyPass(on: Boolean): Unit = ()
  /** What the post-run checks need, recorded in the result file. */
  def checks: Map[String, Any] = Map.empty
}

object Workload {
  /** Reads the generators' JSON and writes the harness's result file. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
}

/** Declared queries, each built by its `SparkEntry.queries` builder and
  * executed with a `noop` write. The seed permutes the order in every pass.
  */
final class QueriesWorkload(
    spark: SparkSession, dataDir: String, names: Seq[String], seed: Long, resultDir: String)
    extends Workload {
  private val builders = SparkEntry.queries
  names.foreach(n => require(builders.contains(n), s"unknown query $n"))
  private var dump = false

  def ops(pass: Int): Seq[String] = new scala.util.Random(seed * 7919 + pass).shuffle(names)

  // The program's own mains (graft.Bench, graft.Verify) drop the previous
  // query's checkpoint blocks between queries; so does the benchmark, untimed.
  override def beforeOp(op: String): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def run(op: String, built: () => Unit): Unit = {
    val df = builders(op)(spark, dataDir)
    built()
    if (dump) df.write.mode("overwrite").parquet(s"$resultDir/$op")
    else df.write.format("noop").mode("overwrite").save()
  }

  /** In the verification pass every result is written as parquet next to
    * its oracle SQL, the layout tools/check_correctness.py reads (as
    * `graft.Verify` writes it); the part files keep the result's order.
    */
  override def verifyPass(on: Boolean): Unit = {
    if (on) {
      Workload.rmTree(Paths.get(resultDir))
      Files.createDirectories(Paths.get(resultDir))
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(s"$resultDir/oracle_sql.json"),
        Workload.json.writeValueAsString(oracles))
    }
    dump = on
  }

  override def checks: Map[String, Any] = Map("result_dir" -> resultDir)

  def describe: Map[String, Any] = Map("data_dir" -> dataDir, "queries" -> names)
}

/** A YAML `FileSource` spec run as a backfill: one `Pipeline.run` per date,
  * oldest first, each checked against the outcome planted for that date.
  */
final class PipelineWorkload(spark: SparkSession, dir: String, work: String)
    extends Workload {
  private val yaml = Files.readString(Paths.get(s"$dir/spec.yaml"))
    .replace("__INPUTS__", dir).replace("__WORK__", work)
  private val planted = Workload.json.readTree(Paths.get(s"$dir/planted.json").toFile)
    .elements().asScala.map { n =>
      n.get("ds").asText -> (n.get("passed").asBoolean,
        n.get("failing").elements().asScala.map(_.asText).toSeq, n.get("rows").asLong)
    }.toMap
  private val dates = planted.keys.toSeq.sorted
  private val alerts = new java.util.concurrent.atomic.AtomicInteger
  private val sink = new AlertSink {
    def alert(pipelineName: String, failures: Seq[String]): Unit = alerts.incrementAndGet()
  }
  private var last: PipelineResult = _
  private var alertsBefore = 0

  def ops(pass: Int): Seq[String] = dates

  override def beforeOp(op: String): Unit = { last = null; alertsBefore = alerts.get }

  def run(op: String, built: () => Unit): Unit = {
    val spec = PipelineSpec.fromYaml(yaml.replace("__AS_OF__", op))
    last = Pipeline.run(spark, spec, LocalDate.parse(op), alertSink = sink)
  }

  override def afterOp(op: String): Option[String] = {
    val (passed, failing, rows) = planted(op)
    val got = last.results.filterNot(_.passed).map(_.checkName)
    val nAlerts = alerts.get - alertsBefore
    val expectAlerts = if (passed) 0 else 1
    // 8 checks in the spec; the unknown type is skipped, never reported
    if (last.passed != passed || got != failing || last.rows != rows ||
        nAlerts != expectAlerts || last.results.size != 7)
      Some(s"$op: verdict=${last.passed} failing=$got rows=${last.rows} alerts=$nAlerts " +
        s"checks=${last.results.size}; planted verdict=$passed failing=$failing rows=$rows")
    else None
  }

  def describe: Map[String, Any] = Map("dates" -> dates.size,
    "rows" -> planted.values.map(_._3).sum, "failing_dates" -> planted.values.count(!_._1))
}

/** The scheduled incremental job: land one increment, then drain everything
  * available through `Streaming.sessionStats` into the parquet sink. Each
  * pass starts from an empty landing directory, checkpoint and sink.
  */
final class StreamWorkload(spark: SparkSession, dir: String, work: String) extends Workload {
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val increments = Files.list(Paths.get(s"$dir/increments")).iterator.asScala
    .filter(_.toString.endsWith(".json")).toSeq.sortBy(_.getFileName.toString)
  private val events = increments.map(p => Files.lines(p).count()).sum
  private val landing = Paths.get(s"$work/stream/landing")
  private val sinkDir = s"$work/stream/sink"
  private val ckptDir = s"$work/stream/checkpoint"
  private type Session = (Long, Long, Long, Long, Double)

  // Batch `sessionStats` over the same events: the sink must hold exactly
  // the sessions the final watermark has closed. Computed once, untimed.
  private lazy val expected: Seq[Session] = collect(Streaming.sessionStats(
    spark.read.schema(schema).json(s"$dir/increments")).collect().toSeq)

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000 + ts.getNanos / 1000

  private def collect(rows: Seq[Row]): Seq[Session] = rows.map(r =>
    (micros(r.getTimestamp(0)), micros(r.getTimestamp(1)), r.getLong(2), r.getLong(3),
      r.getDouble(4))).sorted

  def ops(pass: Int): Seq[String] = increments.map(_.getFileName.toString)

  override def beforePass(pass: Int): Unit = {
    Seq(landing, Paths.get(sinkDir), Paths.get(ckptDir)).foreach(Workload.rmTree)
    Files.createDirectories(landing)
  }

  // Land the increment atomically: the file source ignores dot-files.
  override def beforeOp(op: String): Unit = {
    val tmp = landing.resolve("." + op)
    Files.copy(Paths.get(s"$dir/increments/$op"), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, landing.resolve(op), StandardCopyOption.ATOMIC_MOVE)
  }

  def run(op: String, built: () => Unit): Unit = Streaming.drainToSink(
    Streaming.sessionStats(Streaming.readJsonDir(spark, landing.toString, schema)),
    sinkDir, ckptDir)

  override def afterPass(pass: Int, progress: Seq[Map[String, Any]]): Option[String] = {
    val inputRows = progress.map(_("input_rows").asInstanceOf[Long]).sum
    val wm = progress.map(_("watermark").toString).filter(_.nonEmpty).lastOption
      .map(s => Instant.parse(s)).map(i => i.getEpochSecond * 1000000 + i.getNano / 1000)
      .getOrElse(Long.MinValue)
    val closed = expected.filter(_._2 <= wm)
    // Reading the sink before any session has closed would fail: no files.
    val sinkHasData = Files.exists(Paths.get(sinkDir)) &&
      Files.walk(Paths.get(sinkDir)).iterator.asScala.exists(_.toString.endsWith(".parquet"))
    val got: Seq[Session] = if (!sinkHasData) Nil else collect(Streaming.readSink(spark, sinkDir)
      .select("session_start", "session_end", "user_id", "n_events", "session_value")
      .collect().toSeq)
    if (inputRows != events) Some(s"numInputRows $inputRows != $events events landed")
    else if (closed.isEmpty) Some("no session closed during the pass")
    else if (got != closed)
      Some(s"sink holds ${got.size} sessions, batch sessionStats closes ${closed.size}; " +
        s"first difference ${got.diff(closed).headOption} / ${closed.diff(got).headOption}")
    else None
  }

  def describe: Map[String, Any] = Map("increments" -> increments.size, "events" -> events)
}
