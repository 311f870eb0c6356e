package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point.
  *
  *   Harness <rule_request|heavy_rows> <runDir> <trace 0|1>
  *
  * A workload reads the inputs `perfbench/run.py` generated into `runDir`,
  * which fix how much work its window does, and writes `result.json` (metrics plus the
  * outputs the DuckDB check needs) back into `runDir`. Spans of a traced
  * run go to `spans.jsonl` next to it.
  */
object Harness {

  def session(runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.graft.indexDir", s"$runDir/index")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drops every cache and persisted RDD, so no query reads another's. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = args match {
    case Array(workload, runDir, trace) =>
      val tracer = new Tracer(trace == "1")
      val spark = session(runDir)
      val result =
        try workload match {
          case "rule_request" => RuleRequest.run(spark, runDir, tracer)
          case "heavy_rows" => HeavyRows.run(spark, runDir, tracer)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        } finally spark.stop()
      if (tracer.enabled) tracer.write(s"$runDir/spans.jsonl")
      val env = Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Jvm.maxHeapMb, "master" -> "local[4]",
        "shuffle_partitions" -> 4, "java" -> System.getProperty("java.version"),
        "timezone" -> java.util.TimeZone.getDefault.getID)
      val w = new java.io.PrintWriter(s"$runDir/result.json", "UTF-8")
      try w.print(Json.write(result + ("env" -> env))) finally w.close()
    case _ =>
      System.err.println("usage: Harness <workload> <runDir> <trace>")
      sys.exit(2)
  }
}
