package perfbench

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._
import scala.util.Try

/** heavy_rows: battery rows of the `streaming` and `operators` layers,
  * each run through `graft.SparkEntry.queries` into the `noop` sink over
  * the seeded tables `perfbench/run.py` wrote. Construction and write are
  * timed together: the rows run their streams and CDC merges while the
  * DataFrame is built. Caches and persisted RDDs are dropped before each.
  *
  * Set-up runs every row once and writes its output as parquet for the
  * DuckDB check against `graft.SparkEntry.oracleSql`, then runs one pass
  * as warm-up; the timed window then runs the number of whole passes
  * `heavy.json` fixes.
  */
object HeavyRows {

  /** A battery row, the short name its per-layer metrics carry, the
    * metric of its traced wall time, and the end-to-end metric its window
    * times give, if any.
    */
  final case class Row(name: String, short: String, wall: String, e2e: Option[String])

  private def rows(dir: String): (String, Int, Seq[Row]) = {
    val node = Json.read(s"$dir/heavy.json")
    val rs = node.get("rows").elements().asScala.map(r =>
      Row(r.get("name").asText, r.get("short").asText, r.get("wall").asText,
        Option(r.get("e2e")).filterNot(_.isNull).map(_.asText))).toSeq
    (node.get("corpus").asText, node.get("passes").asInt, rs)
  }

  /** Runs one row into `noop`; its wall time in ms, or None if it failed. */
  private def timed(spark: SparkSession, corpus: String, r: Row, tracer: Tracer, op: String,
                    atEnd: () => Unit = () => ()): Option[Double] = {
    Harness.quiesce(spark)
    val t0 = System.nanoTime()
    val ok = Try(tracer.span(s"battery.${r.short}", op) {
      val df = graft.SparkEntry.queries(r.name)(spark, corpus)
      df.write.mode("overwrite").format("noop").save()
    })
    val ms = (System.nanoTime() - t0) / 1e6
    atEnd()
    ok.failed.foreach(e => System.err.println(s"perfbench: ${r.name} failed: $e"))
    ok.toOption.map(_ => ms)
  }

  private def pass(spark: SparkSession, corpus: String, rs: Seq[Row], tracer: Tracer,
                   n: Int): Seq[(Row, Option[Double])] =
    rs.map(r => r -> timed(spark, corpus, r, tracer, s"pass$n-${r.short}"))

  /** Per end-to-end metric the p50 of its row's times; rows per second. */
  private def passMetrics(done: Seq[(Row, Option[Double])]): Map[String, Double] = {
    val ok = done.collect { case (r, Some(ms)) => (r, ms) }
    ok.groupBy(_._1.e2e).collect { case (Some(m), xs) => m -> Stats.median(xs.map(_._2)) } +
      ("ops_per_s" -> ok.size / (ok.map(_._2).sum / 1e3))
  }

  def run(spark: SparkSession, dir: String, tracer: Tracer): Map[String, Any] = {
    val (corpus, passes, rs) = rows(dir)
    val oracle = graft.SparkEntry.oracleSql

    // set-up doubles as the check: every row once, outside the window;
    // the per-JVM memos and indexes a row builds on first use count here
    val checks = rs.map { r =>
      Harness.quiesce(spark)
      val out = s"out/${r.short}"
      val wrote = Try {
        val df = graft.SparkEntry.queries(r.name)(spark, corpus)
        // the check reads timestamps as DuckDB does, not as INT96
        val key = "spark.sql.parquet.outputTimestampType"
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try df.write.mode("overwrite").parquet(s"$dir/$out") finally spark.conf.unset(key)
      }
      wrote.failed.foreach(e => System.err.println(s"perfbench: ${r.name} failed: $e"))
      Map("row" -> r.name, "dir" -> out, "oracle" -> oracle(r.name)) ++
        (if (wrote.isFailure) Map("error" -> true) else Map.empty)
    }
    val warm = pass(spark, corpus, rs, new Tracer(false), 0)
    val setupS = Jvm.sinceStartS

    val all = (1 to passes).flatMap(n => pass(spark, corpus, rs, new Tracer(false), n))
    val untraced = passMetrics(all)
    val liveHeapMb = Jvm.liveHeapMb
    val base = Map(
      "metrics" -> (untraced ++ Map("setup_s" -> setupS, "live_heap_mb" -> liveHeapMb)),
      "attempted" -> (warm.size + all.size + checks.size),
      "failed" -> ((warm ++ all).count(_._2.isEmpty) + checks.count(_.contains("error"))),
      "checks" -> checks)
    if (!tracer.enabled) base
    else base + ("layers" -> traced(spark, corpus, rs, tracer, untraced))
  }

  /** One pass with the listeners and spans after the window, each row's
    * engine counters and persisted RDDs read at its end; the tracing
    * overhead is this pass against the window's untraced passes.
    */
  private def traced(spark: SparkSession, corpus: String, rs: Seq[Row], tracer: Tracer,
                     untraced: Map[String, Double]): Map[String, Double] = {
    val listeners = new EngineListeners(spark).attach()
    val perRow = Map.newBuilder[String, Double]
    var total = Counters(Map.empty)
    val done =
      try rs.map { r =>
        val before = listeners.snapshot()
        var persisted = (0, 0.0)
        val ms = timed(spark, corpus, r, tracer, s"pass-1-${r.short}", () => persisted = Persisted.now(spark))
        val c = listeners.snapshot() - before
        total = total + c
        perRow ++= Map(
          s"${r.short}.jobs" -> c("jobs"),
          s"${r.short}.tasks" -> c("tasks"),
          s"${r.short}.executor_cpu_s" -> c("executor_cpu_ms") / 1e3,
          s"${r.short}.shuffle_write_mb" -> c("shuffle_write_mb"),
          s"${r.short}.spill_mb" -> c("spill_mb"),
          s"${r.short}.gc_s" -> c("gc_ms") / 1e3,
          s"${r.short}.persisted_rdds" -> persisted._1.toDouble,
          s"${r.short}.persisted_mb" -> persisted._2,
          r.wall -> ms.getOrElse(0.0) / 1e3)
        r -> ms
      } finally listeners.detach()
    val tracedPass = passMetrics(done)
    def overhead(k: String) = tracedPass(k) - untraced(k)
    Map(
      "streaming.batches" -> total("stream_batches"),
      "streaming.add_batch_ms" -> total("stream_addBatch_ms"),
      "streaming.wal_commit_ms" -> total("stream_walCommit_ms"),
      "streaming.commit_offsets_ms" -> total("stream_commitOffsets_ms"),
      "streaming.state_commit_ms" -> total("stream_state_commit_ms"),
      "trace.overhead_op_p50_ms" -> overhead("op_p50_ms"),
      "trace.overhead_ops_per_s" -> overhead("ops_per_s")
    ) ++ perRow.result() ++ EngineLayers.perOp(total, rs.size.toDouble)
  }
}

object Persisted {
  /** Persisted RDDs and their stored size (memory plus disk) right now. */
  def now(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    (sc.getPersistentRDDs.size, mb)
  }
}
