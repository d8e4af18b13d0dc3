package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — one JSON line of per-query wall times at the env SF,
  * plus a machine-readable per-query artifact (`bench.json`) so the numbers
  * survive stdout truncation and are cross-checkable run over run.
  *
  * One protocol for every query: one untimed warm-up run (Janino/JIT
  * compilation of the query's generated code, a cost a steady-state
  * deployment amortizes away), then [[TimedRuns]] timed runs. The headline
  * `secs` is the median of the timed runs; `min`, `spread` and every raw run
  * sit beside it in the artifact. No timed run is ever excluded, and a query
  * any of whose runs throws is reported failed and poisons the total (-1).
  *
  * Each query executes via a `noop`-format write so every output column is
  * actually computed (a bare `count()` would let Spark prune the projections
  * and under-report map-heavy queries).
  *
  * Env: `SPARK_GRAFT_SF_DIR` (fixture dir), `SPARK_GRAFT_CPUS` (local[n],
  * default: the host's processors), `SPARK_GRAFT_BENCH_OUT` (artifact path,
  * default `bench.json`), `SPARK_GRAFT_BENCH_BASELINE` (artifact to compare
  * against, default the previous `SPARK_GRAFT_BENCH_OUT`). Optional arg: a
  * comma-separated query-name filter.
  */
object Bench {

  val TimedRuns = 3

  /** A caller may keep only a bounded tail of stdout, so the summary line is
    * held to this many chars; full per-query fidelity lives in the artifact.
    */
  val LineBudget = 1600

  /** One execution: wall seconds plus observational channels over the same
    * window — JVM GC and JIT time, the longest task, task count and summed
    * task time (one straggler vs a uniform stretch). None of them gates.
    */
  case class Run(secs: Double, gcMs: Long, jitMs: Long, maxTaskMs: Long,
      tasks: Long, taskSumMs: Long)

  /** One query's runs that completed, in order; a run that threw ends the
    * query, so anything short of a warm-up plus [[TimedRuns]] is a failure.
    */
  case class Result(name: String, warmup: Option[Run], runs: Seq[Run]) {
    val failed: Boolean = warmup.isEmpty || runs.size < TimedRuns
    private val ts = runs.map(_.secs).sorted
    /** The median: [[TimedRuns]] is odd. */
    def secs: Double = if (failed) -1.0 else ts(ts.size / 2)
    def min: Double = if (failed) -1.0 else ts.head
    def spread: Double = if (failed) -1.0 else ts.last - ts.head
  }

  /** Suite total; a failed query must poison it, or a broken suite would
    * bench faster than a working one for any consumer reading only `value`.
    */
  def total(rs: Seq[Result]): Double =
    if (rs.exists(_.failed)) -1.0 else rs.map(_.secs).sum

  def fmt(d: Double): String =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def quote(s: String): String = "\"" + s + "\""
  private def list(xs: Seq[String]): String = xs.map(quote).mkString("[", ",", "]")

  private val SfRe = """"sf":\s*"([^"]+)"""".r
  private val SecsRe = """"([A-Za-z0-9_]+)":\s*\{"secs":(-?[0-9.]+)""".r

  /** An artifact's sf and per-query `secs`. The format is ours (written by
    * [[artifact]]), so a regex is parse enough — no JSON lib on the classpath.
    */
  def readBaseline(txt: String): (Option[String], Map[String, Double]) =
    (SfRe.findFirstMatchIn(txt).map(_.group(1)),
      SecsRe.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap)

  /** Ratio summary against a previous artifact: median and p90 of per-query
    * current/baseline, and `gt2x` naming every query above 2x. A baseline
    * at another sf is a unit error, not a regression: its ratios are
    * suppressed and the mismatch recorded.
    */
  def vsBaseline(rs: Seq[Result], sfDir: String, file: String, txt: String): String = {
    val (sf, base) = readBaseline(txt)
    lazy val ratios = rs.flatMap(r => base.get(r.name).filter(_ > 0.0)
      .collect { case b if r.secs > 0.0 => r.name -> r.secs / b }).sortBy(_._2)
    if (sf.exists(_ != sfDir))
      s"""{"file":"$file","sf_mismatch":true,"baseline_sf":"${sf.get}"}"""
    else if (ratios.isEmpty) "null"
    else {
      val med = ratios(ratios.size / 2)._2
      val p90 = ratios(math.min(ratios.size * 9 / 10, ratios.size - 1))._2
      s"""{"file":"$file","n":${ratios.size},"median_ratio":${fmt(med)},""" +
        s""""p90_ratio":${fmt(p90)},"gt2x":${list(ratios.filter(_._2 > 2.0).map(_._1))}}"""
    }
  }

  def artifact(rs: Seq[Result], sfDir: String, vs: String): String = {
    def arr(f: Run => Any, r: Result) = r.runs.map(f).mkString("[", ",", "]")
    val queries = rs.map { r =>
      s"""  "${r.name}": {"secs":${fmt(r.secs)},"min":${fmt(r.min)},""" +
        s""""spread":${fmt(r.spread)},"runs":${arr(x => fmt(x.secs), r)},""" +
        s""""warmup":${fmt(r.warmup.fold(-1.0)(_.secs))},""" +
        s""""gc_ms":${arr(_.gcMs, r)},"jit_ms":${arr(_.jitMs, r)},""" +
        s""""max_task_ms":${arr(_.maxTaskMs, r)},"tasks":${arr(_.tasks, r)},""" +
        s""""task_sum_ms":${arr(_.taskSumMs, r)}}"""
    }.mkString("{\n", ",\n", "\n}")
    s"""{
       |"sf":"$sfDir",
       |"unit":"sec",
       |"protocol":{"warmup":1,"timed":$TimedRuns,"stat":"median"},
       |"total":${fmt(total(rs))},
       |"failed":${list(rs.filter(_.failed).map(_.name))},
       |"vs_baseline":$vs,
       |"queries":$queries
       |}""".stripMargin
  }

  /** The one stdout line: failed names first, then queries most expensive
    * first, each list cut to what fits [[LineBudget]]; `omitted` counts the
    * query entries cut.
    */
  def summaryLine(rs: Seq[Result], sfDir: String, outFile: String): String = {
    def line(qs: Seq[String], failed: Seq[String]) =
      s"""{"metric":"total","value":${fmt(total(rs))},"unit":"sec","n":${rs.size},""" +
        s""""omitted":${rs.size - qs.size},"queries":${qs.mkString("{", ",", "}")},""" +
        s""""failed":${failed.mkString("[", ",", "]")},"artifact":"$outFile","sf":"$sfDir"}"""
    def fit(items: Seq[String], budget: Int): Seq[String] =
      items.zip(items.scanLeft(0)(_ + _.length + 1).tail)
        .takeWhile(_._2 <= budget).map(_._1)
    val failed = fit(rs.filter(_.failed).map(r => quote(r.name)),
      LineBudget - line(Nil, Nil).length)
    val qs = fit(rs.filterNot(_.failed).sortBy(-_.secs)
      .map(r => quote(r.name) + ":" + fmt(r.secs)), LineBudget - line(Nil, failed).length)
    line(qs, failed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val explicitBaseline = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
    def exists(p: String) = Files.exists(Paths.get(p))
    // an explicitly requested baseline that doesn't exist must say so, or a
    // typo'd path would silently record vs_baseline:null
    explicitBaseline.filterNot(exists).foreach(p =>
      System.err.println(s"[bench] WARNING: baseline '$p' not found; vs_baseline will be null"))
    // read BEFORE this run overwrites outFile
    val baseline = explicitBaseline.orElse(Some(outFile)).filter(exists)
      .map(p => p -> new String(Files.readAllBytes(Paths.get(p)), UTF_8))
    baseline.foreach { case (p, txt) =>
      readBaseline(txt)._1.filter(_ != sfDir).foreach(sf => System.err.println(
        s"[bench] WARNING: baseline '$p' is at sf '$sf' but this run is at '$sfDir'; " +
          "vs_baseline ratios suppressed (sf_mismatch recorded)"))
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Even with the UI off, SQLAppStatusListener retains up to 1000
      // executions' plan graphs + metric maps: old-gen pressure inside later
      // queries' windows across a 250-query suite.
      .config("spark.sql.ui.retainedExecutions", "1")
      // The default 100-entry codegen class cache would evict and
      // Janino-recompile inside timed windows across ~1000 plan executions;
      // 5000 holds every generated class for the suite (static conf).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    import java.lang.management.ManagementFactory
    import java.util.concurrent.atomic.AtomicLong
    import scala.jdk.CollectionConverters._
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jitBean = ManagementFactory.getCompilationMXBean
    def jitMs(): Long =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime else 0L
    val (maxTaskMs, taskCount, taskSumMs) = (new AtomicLong, new AtomicLong, new AtomicLong)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          // count LAST: settling on the count then settles max and sum too
          maxTaskMs.getAndAccumulate(t.taskInfo.duration, math.max)
          taskSumMs.addAndGet(t.taskInfo.duration)
          taskCount.incrementAndGet()
        }
    })

    // Generic warm-up (executor pool, codegen, shuffle), then every fixture
    // table read in full once, so query #1 doesn't absorb JVM start-up and
    // cold page-cache reads. Per-table try: a missing table fails only its
    // own queries.
    exec(spark.range(1000000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v"))
    graft.io.Tables.names.foreach { t =>
      try exec(graft.io.Tables(spark, sfDir, t))
      catch { case scala.util.control.NonFatal(_) => () }
    }

    def oneRun(name: String, fn: (SparkSession, String) => DataFrame): Option[Run] = {
      // Outside the window: drop earlier runs' localCheckpoint blocks (the
      // ContextCleaner frees them only after GC) so storage pressure can't
      // bleed into this measurement.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val (gc0, jit0) = (gcMs(), jitMs())
      maxTaskMs.set(0L); taskCount.set(0L); taskSumMs.set(0L)
      val t0 = System.nanoTime()
      try {
        exec(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is asynchronous: let the last TaskEnds land
        graft.util.Poll.settled(() => taskCount.get(), 20, 50)
        Some(Run(wall, gcMs() - gc0, jitMs() - jit0, maxTaskMs.get(),
          taskCount.get(), taskSumMs.get()))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }

    val only = args.headOption.map(_.split(',').toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val done = Iterator.fill(1 + TimedRuns)(oneRun(name, fn))
          .takeWhile(_.isDefined).flatten.toSeq
        Result(name, done.headOption, done.drop(1))
      }

    val vs = baseline.fold("null") { case (p, txt) => vsBaseline(results, sfDir, p, txt) }
    Files.write(Paths.get(outFile), artifact(results, sfDir, vs).getBytes(UTF_8))
    println(summaryLine(results, sfDir, outFile))
    spark.stop()
  }
}
