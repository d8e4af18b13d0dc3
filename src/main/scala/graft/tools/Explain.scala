package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Plan inspector: print the formatted physical plan of a declared query and
  * time N executions (noop sink, all columns computed).
  *
  * Usage: runMain graft.tools.Explain <queryName> [sfDir] [runs]
  */
object Explain {
  def main(args: Array[String]): Unit = {
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
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
