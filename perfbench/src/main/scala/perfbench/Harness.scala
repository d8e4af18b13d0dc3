package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: set the session up, run a cold pass and
  * then warm passes until `--seconds` have been measured, and write every
  * raw figure to `--out`. perfbench/run.py builds, generates the inputs,
  * starts this and turns the raw figures into metrics.
  *
  * Arguments (all required): --workload queries|pipeline|stream
  * --inputs DIR --work DIR --seconds S --warmup N --trace 0|1 --seed N
  * --out FILE;
  * `queries` also takes --queries a,b,c.
  * With --setup-only 1 (and only --workload, --work and --out) it sets the
  * session up, writes the time it was ready and exits.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors

    val conf = new SparkConf()
      .setMaster(s"local[$cores]")
      .setAppName(s"perfbench-$workload")
      .set("spark.sql.shuffle.partitions", cores.toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      // the same two settings graft.Bench pins for long query suites
      .set("spark.sql.ui.retainedExecutions", "1")
      .set("spark.sql.codegen.cache.maxEntries", "5000")
      .set("spark.local.dir", s"$work/spark-local")
      .set("spark.sql.warehouse.dir", s"$work/warehouse")
      .set("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")

    // Set-up ends here; run.py counts it from the moment it started the
    // process.
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    if (args.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(args("out")),
        Workload.json.writeValueAsString(Map("ready_ms" -> readyMs)))
      spark.stop()
      return
    }
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    // Untraced runs need 3 measured passes for a median; traced runs
    // alternate untraced and traced measured passes, so they need 2 of each.
    val minMeasured = if (traced) 4 else 3

    val wl: Workload = workload match {
      case "queries" => new QueriesWorkload(spark, args("inputs"),
        args("queries").split(",").toSeq, args("seed").toLong, s"$work/results")
      case "pipeline" => new PipelineWorkload(spark, args("inputs"), work)
      case "stream" => new StreamWorkload(spark, args("inputs"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tap = new ProgressTap
    spark.streams.addListener(tap)
    val tracer = new Tracer

    // Pass 0 is cold. The next `warmup` passes are run and checked but not
    // reported: the JIT is still compiling the driver's hot paths there, and
    // the queries workload dumps its results for the DuckDB check in the
    // first of them. Measured passes follow until `--seconds` are measured.
    val warmup = args("warmup").toInt
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var measured = 0
    var measuredSeconds = 0.0
    var pass = 0
    while (pass <= warmup || measured < minMeasured || measuredSeconds < seconds) {
      val role = if (pass == 0) "cold" else if (pass <= warmup) "warmup" else "measured"
      // Traced runs trace the cold pass and measured passes in the order
      // untraced, traced, traced, untraced: the JIT still speeds later
      // passes up, and this order gives both kinds the same mean position.
      val tracePass = traced &&
        (pass == 0 || (role == "measured" && Set(2, 3).contains((pass - warmup) % 4)))
      if (tracePass) tracer.attach(spark)
      wl.beforePass(pass)
      if (pass == 1) wl.verifyPass(true)
      val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val blocks0 = tracer.ckptBlockBytes.get
      val ops = ArrayBuffer.empty[Map[String, Any]]
      val steal0 = stealTicks()
      val passStart = System.currentTimeMillis()
      var passNs = 0L
      for (op <- wl.ops(pass)) {
        wl.beforeOp(op)
        var builtAt = 0L
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val err = try { wl.run(op, () => builtAt = System.nanoTime()); None }
          catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val t1 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        passNs += t1 - t0
        val bad = err.orElse(scala.util.Try(wl.afterOp(op)).fold(e => Some(e.toString), identity))
        ops += Map("name" -> op, "start" -> startMs, "end" -> endMs, "ms" -> (t1 - t0) / 1e6,
          "build_ms" -> (if (builtAt > 0) (builtAt - t0) / 1e6 else 0.0),
          "ok" -> bad.isEmpty, "error" -> bad)
      }
      val passEnd = System.currentTimeMillis()
      val stealS = (stealTicks() - steal0) / 100.0
      val cg1 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      if (pass == 1) wl.verifyPass(false)
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val drained = System.currentTimeMillis()
      if (tracePass) tracer.detach(spark)
      val progress = tap.take()
      val passErr = scala.util.Try(wl.afterPass(pass, progress)).fold(e => Some(e.toString), identity)
      passes += Map("index" -> pass, "role" -> role, "traced" -> tracePass,
        "wall_s" -> passNs / 1e9, "start" -> passStart, "end" -> passEnd,
        "drained" -> drained, "ops" -> ops.toSeq, "steal_s" -> stealS,
        "error" -> passErr, "codegen_ms" -> (cg1._1 - cg0._1) / 1e6,
        "codegen_compiles" -> (cg1._2 - cg0._2),
        "ckpt_block_bytes" -> (tracer.ckptBlockBytes.get - blocks0), "progress" -> progress)
      if (role == "measured") {
        measured += 1
        measuredSeconds += passNs / 1e9
      }
      pass += 1
    }
    val rssPeakMb = vmHwmMb()

    val host = Map("nproc" -> cores, "mem_total_kb" -> memTotalKb(),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    val confs = conf.getAll.filterNot(_._1.startsWith("spark.app")).toMap
    Files.writeString(Paths.get(args("out")), Workload.json.writeValueAsString(Map(
      "workload" -> workload, "host" -> host, "confs" -> confs, "inputs" -> wl.describe,
      "ready_ms" -> readyMs, "passes" -> passes.toSeq, "rss_peak_mb" -> rssPeakMb,
      "checks" -> wl.checks, "spans" -> (if (traced) tracer.records else Nil))))
    spark.stop()
  }

  private def procLines(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq

  private def procField(file: String, key: String): Long =
    procLines(file).find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** CPU time the hypervisor gave to other guests, in USER_HZ ticks. */
  private def stealTicks(): Long = procLines("/proc/stat").head.split("\\s+")(8).toLong

  private def vmHwmMb(): Double = procField("/proc/self/status", "VmHWM") / 1024.0
  private def memTotalKb(): Long = procField("/proc/meminfo", "MemTotal")
}
