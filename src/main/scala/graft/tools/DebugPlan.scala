package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Scratch inspector: run a declared query N times and print the AQE-FINAL
  * executed plan + per-run wall, to chase runtime plan shapes Explain's
  * compile-time view can't show.
  *
  * Usage: runMain graft.tools.DebugPlan <queryName> [sfDir] [runs]
  */
object DebugPlan {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !SparkEntry.queries.contains(args(0)) ||
        args.drop(2).headOption.exists(r => scala.util.Try(r.toInt).isFailure)) {
      System.err.println(
        "usage: runMain graft.tools.DebugPlan <queryName> [sfDir] [runs]\n" +
          s"  queryName: one of ${SparkEntry.queries.size} declared queries " +
          "(e.g. x_triangles); runs: an integer (default 3)")
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // Per-stage max-task + task-count + total-task-time, so a straggler is
    // attributable to a STAGE (and through numTasks to a plan region).
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null) {
            maxTaskMs.getAndAccumulate(t.taskInfo.duration, math.max)
            stages.merge(t.stageId, (t.taskInfo.duration, 1, t.taskInfo.duration),
              (a, b) => (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
          }
      })
    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { i =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      maxTaskMs.set(0L)
      stages.clear()
      // Frame CONSTRUCTION is timed separately: some queries run real
      // driver-side jobs while building the frame (IVF centroid collects,
      // oovRate's vocab top-k) — Bench times fn() inside its window, so a
      // DebugPlan reading that silently excluded the build would
      // under-report exactly those queries (and the printed plan covers
      // only the post-build half either way).
      val tb0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val build = (System.nanoTime() - tb0) / 1e9
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val buildNote = if (build >= 0.1) f" (+ build $build%.3f s)" else ""
      println(f"run $i: $wall%.3f s$buildNote  maxtask=${maxTaskMs.get()} ms")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(_._1).foreach { case (sid, (mx, n, tot)) =>
        println(f"  stage $sid%3d: tasks=$n%3d maxtask=$mx%6d ms total=$tot%7d ms")
      }
      if (i == 1 || i == runs) {
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      }
    }
    spark.stop()
  }
}
