package perfbench

import graft.api.{RuleHttpServer, RuleService}
import graft.model.RuleJson
import graft.rules.RuleEvaluator
import org.apache.spark.sql.SparkSession

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

/** rule_request: a closed loop of 4 client threads, each waiting for its
  * reply, POSTs `{Rule, Users}` to an in-process [[RuleHttpServer]].
  *
  * Set-up serves every distinct (payload, rule) pair once, keeping those
  * replies for the DuckDB check; those requests are the only warm-up.
  * The timed window sends the seeded schedule once: a fixed number of
  * requests, so every run does the same work however fast the host is. A
  * traced run repeats the window with the listeners attached, then calls
  * the public functions one after another at concurrency 1 over the split
  * list.
  */
object RuleRequest {
  private val Clients = 4

  final case class Sent(payload: Int, rule: Int, status: Int, startNs: Long, endNs: Long, traced: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class Inputs(dir: String) {
    private val node = Json.read(s"$dir/request.json")
    private def pairs(k: String): IndexedSeq[(Int, Int)] =
      node.get(k).elements().asScala.map(a => (a.get(0).asInt, a.get(1).asInt)).toIndexedSeq
    val rules: IndexedSeq[String] = node.get("rules").elements().asScala.map(_.asText).toIndexedSeq
    val payloads: IndexedSeq[Array[Byte]] = node.get("payloads").elements().asScala
      .map(p => Files.readAllBytes(Paths.get(dir, p.get("file").asText))).toIndexedSeq
    val large: IndexedSeq[Boolean] =
      node.get("payloads").elements().asScala.map(_.get("large").asBoolean).toIndexedSeq
    val pairsAll: IndexedSeq[(Int, Int)] = pairs("pairs")
    val schedule: IndexedSeq[(Int, Int)] = pairs("schedule")
    val split: IndexedSeq[(Int, Int)] = pairs("split")
  }

  private def post(port: Int, in: Inputs, p: Int, r: Int): (Int, Array[Byte]) = {
    val head = s"""{"Rule":${in.rules(r)},"Users":""".getBytes(UTF_8)
    val conn = URI.create(s"http://127.0.0.1:$port/rules/evaluate").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    conn.setFixedLengthStreamingMode(head.length + in.payloads(p).length + 1)
    val out = conn.getOutputStream
    out.write(head)
    out.write(in.payloads(p))
    out.write('}')
    out.close()
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val body = try stream.readAllBytes() finally stream.close()
    (status, body)
  }

  private val ignore: (Int, Int, Int, Array[Byte]) => Unit = (_, _, _, _) => ()

  /** Sends each of `items` once, in order, from [[Clients]] threads. */
  private def drive(port: Int, in: Inputs, items: IndexedSeq[(Int, Int)],
                    tracer: Tracer, keep: (Int, Int, Int, Array[Byte]) => Unit): Seq[Sent] = {
    val next = new AtomicInteger()
    val sent = new ConcurrentLinkedQueue[Sent]()
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        var go = true
        while (go) {
          val i = next.getAndIncrement()
          go = i < items.length
          if (go) {
            val (p, r) = items(i)
            val traced = tracer.on
            val t0 = System.nanoTime()
            val (status, body) = tracer.span("http.request", s"req-$i")(post(port, in, p, r))
            sent.add(Sent(p, r, status, t0, System.nanoTime(), traced))
            keep(p, r, status, body)
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    sent.asScala.toSeq
  }

  private def windowMetrics(in: Inputs, sent: Seq[Sent]): Map[String, Double] = {
    val spanS = (sent.map(_.endNs).max - sent.map(_.startNs).min) / 1e9
    val small = sent.filter(s => !in.large(s.payload)).map(_.ms)
    val large = sent.filter(s => in.large(s.payload)).map(_.ms)
    Map(
      "op_p50_ms" -> Stats.median(small),
      "small_p99_ms" -> Stats.quantile(small, 0.99),
      "large_op_p50_ms" -> Stats.median(large),
      "ops_per_s" -> sent.size / spanS)
  }

  def run(spark: SparkSession, dir: String, tracer: Tracer): Map[String, Any] = {
    val in = new Inputs(dir)
    val server = new RuleHttpServer(spark)
    val port = server.start()
    val off = new Tracer(false)
    try {
      // set-up: every distinct pair once, replies kept for the check
      Files.createDirectories(Paths.get(dir, "responses"))
      val checked = drive(port, in, in.pairsAll, off, (p, r, status, body) =>
        Files.write(Paths.get(dir, "responses", s"p${p}_r$r.json"), body))
      val setupS = Jvm.sinceStartS

      val (window, measured) =
        if (!tracer.enabled) {
          val window = drive(port, in, in.schedule, off, ignore)
          val m = windowMetrics(in, window) - "small_p99_ms"
          (window, "metrics" -> (m ++ Map("setup_s" -> setupS, "live_heap_mb" -> Jvm.liveHeapMb)))
        } else {
          val (window, layers) = traced(spark, port, in, tracer)
          (window, "layers" -> layers)
        }
      val all = checked ++ window
      Map(measured,
        "attempted" -> all.size,
        "failed" -> all.count(_.status != 200),
        "checks" -> checked.map(s => Map("payload" -> s.payload, "rule" -> s.rule, "status" -> s.status,
          "file" -> s"responses/p${s.payload}_r${s.rule}.json")))
    } finally server.stop()
  }

  /** The traced window alternates one-second slices with and without the
    * listeners and spans, so both halves see the same warm-up; their
    * difference is the tracing overhead. The split phase follows.
    */
  private def traced(spark: SparkSession, port: Int, in: Inputs,
                     tracer: Tracer): (Seq[Sent], Map[String, Double]) = {
    import spark.implicits._
    val listeners = new EngineListeners(spark)
    val done = new AtomicBoolean(false)
    val sliceNs = Array(0L, 0L) // time spent untraced, traced
    tracer.on = false
    val toggler = new Thread(() => {
      var t = System.nanoTime()
      while (!done.get) {
        while (!done.get && System.nanoTime() - t < 1000000000L) Thread.sleep(10)
        val now = System.nanoTime()
        sliceNs(if (tracer.on) 1 else 0) += now - t
        if (tracer.on) listeners.detach() else listeners.attach()
        tracer.on = !tracer.on
        t = now
      }
    })
    toggler.start()
    val window = try drive(port, in, in.schedule, tracer, ignore) finally done.set(true)
    toggler.join()
    if (tracer.on) listeners.detach()
    def small(traced: Boolean) = window.filter(s => s.traced == traced && !in.large(s.payload)).map(_.ms)
    def rate(traced: Boolean) = window.count(_.traced == traced) / (sliceNs(if (traced) 1 else 0) / 1e9)

    listeners.attach()
    tracer.on = true
    try {
      var counts = Counters(Map.empty)
      in.split.zipWithIndex.foreach { case ((p, r), i) =>
        val op = s"split-$i"
        val cls = if (in.large(p)) "large" else "small"
        val rows = new String(in.payloads(p), UTF_8)
        val rule = in.rules(r)
        val parsed = tracer.span("model.parse_rule", op)(RuleJson.parseRule(rule))
        tracer.span(s"api.evaluate_$cls", op)(RuleService.evaluate(spark, rows, rule))
        val decoded = spark.read.json(Seq(rows).toDS())
        val df = tracer.span("rules.compile", op)(RuleEvaluator(decoded, parsed))
        tracer.span("spark.plan", op)(df.queryExecution.executedPlan)
        tracer.span(s"spark.execute_$cls", op)(df.toJSON.collect())
        val before = listeners.snapshot()
        tracer.span(s"api.evaluate_to_json_$cls", op)(RuleService.evaluateToJson(spark, rows, rule))
        counts = counts + (listeners.snapshot() - before)
        tracer.span(s"http.split_$cls", op)(post(port, in, p, r))
      }
      def p50(name: String) = Stats.medianOr0(tracer.durationsMs(name))
      (window, Map(
        "model.parse_rule_ms" -> p50("model.parse_rule"),
        "rules.compile_ms" -> p50("rules.compile"),
        "api.evaluate_small_ms" -> p50("api.evaluate_small"),
        "api.evaluate_large_ms" -> p50("api.evaluate_large"),
        "api.http_self_ms" -> (p50("http.split_small") - p50("api.evaluate_to_json_small")),
        "api.small_p99_ms" -> Stats.quantile(small(false), 0.99),
        "spark.plan_ms" -> p50("spark.plan"),
        "spark.execute_small_ms" -> p50("spark.execute_small"),
        "spark.execute_large_ms" -> p50("spark.execute_large"),
        "trace.overhead_op_p50_ms" -> (Stats.median(small(true)) - Stats.median(small(false))),
        "trace.overhead_ops_per_s" -> (rate(true) - rate(false))
      ) ++ EngineLayers.perOp(counts, in.split.size.toDouble))
    } finally listeners.detach()
  }
}

object EngineLayers {
  /** Listener counters divided by the number of operations they cover. */
  def perOp(c: Counters, ops: Double): Map[String, Double] = Map(
    "spark.jobs_per_op" -> c("jobs") / ops,
    "spark.stages_per_op" -> c("stages") / ops,
    "spark.tasks_per_op" -> c("tasks") / ops,
    "spark.executor_cpu_ms_per_op" -> c("executor_cpu_ms") / ops,
    "spark.executor_run_ms_per_op" -> c("executor_run_ms") / ops,
    "spark.analysis_ms_per_op" -> c("analysis_ms") / ops,
    "spark.optimization_ms_per_op" -> c("optimization_ms") / ops,
    "spark.planning_ms_per_op" -> c("planning_ms") / ops,
    "spark.input_rows_per_op" -> c("input_rows") / ops,
    "spark.input_mb_per_op" -> c("input_mb") / ops,
    "spark.shuffle_write_mb_per_op" -> c("shuffle_write_mb") / ops,
    "spark.spill_mb_per_op" -> c("spill_mb") / ops,
    "jvm.gc_ms_per_op" -> c("gc_ms") / ops)
}
