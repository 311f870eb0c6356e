package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The reference's HTTP product surface, runnable: `POST /rules/evaluate`
  * with body `{Rule, Users}` evaluates the rule against the rows carried in
  * the request and returns the matching rows as a JSON array — 200 on
  * success, 400 `{"Error": message}` on any failure, exactly the
  * controller's contract (reference `RuleController.cs:12-28`, request
  * shape `:31-35`; enum-as-string binding `Program.cs:4-8`).
  *
  * The body is parsed once: the `Users` and `Rule` trees go straight to
  * [[RuleService]], which infers the row schema by Spark's JSON rules on
  * the driver, with no Spark job, and answers filter-only rules without
  * launching one. Requests run on a pool of four threads named
  * `rule-http-<n>`.
  *
  * Built on the JDK's `com.sun.net.httpserver` (zero extra dependencies —
  * this is a demo shim for request-sized payloads, not a production
  * gateway; cluster-scale data enters through `spark.read` +
  * [[graft.rules.RuleEvaluator]]). Field names bind case-insensitively like
  * ASP.NET model binding.
  */
final class RuleHttpServer(spark: SparkSession, port: Int = 0) {
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  server.createContext("/rules/evaluate", (exchange: HttpExchange) => {
    try {
      if (exchange.getRequestMethod != "POST") {
        respond(exchange, 405, """{"Error":"POST required"}""")
      } else {
        val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        try {
          val root = mapper.readTree(body)
          def field(name: String) = root.properties().asScala
            .collectFirst { case e if e.getKey.equalsIgnoreCase(name) => e.getValue }
          val rule = field("Rule").getOrElse(
            throw new IllegalArgumentException("Rule is required."))
          val users = field("Users").filter(_.isArray).getOrElse(
            throw new IllegalArgumentException("Users array is required."))
          val out = RuleService.evaluateToJson(spark, users, rule)
          respond(exchange, 200, out)
        } catch {
          case e: Throwable => // reference: any failure -> 400 {Error}
            respond(exchange, 400, mapper.writeValueAsString(
              mapper.createObjectNode().put("Error", String.valueOf(e.getMessage))))
        }
      }
    } finally exchange.close()
  })
  // a small pool, not the dispatcher thread: SparkSession is thread-safe
  // (each evaluate builds an independent local DataFrame plan), so two
  // rules in flight must not serialize behind each other — spec-pinned by
  // RuleHttpServerSpec's concurrent-request test
  private val pool = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(4, (r: Runnable) => new Thread(r, s"rule-http-${n.incrementAndGet()}"))
  }
  server.setExecutor(pool)

  private def respond(exchange: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    exchange.getResponseHeaders.set("Content-Type", "application/json")
    exchange.sendResponseHeaders(status, bytes.length)
    exchange.getResponseBody.write(bytes)
  }

  /** Starts listening; returns the bound port (useful with port = 0). */
  def start(): Int = {
    server.start()
    server.getAddress.getPort
  }

  /** Stops listening, then gives in-flight requests up to 30 s to finish
    * before interrupting them.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(30, TimeUnit.SECONDS)) pool.shutdownNow()
  }
}

/** `runMain graft.api.RuleHttpServer 8080` — standalone demo server. */
object RuleHttpServer {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val bound = new RuleHttpServer(spark, port).start()
    println(s"rule engine listening on http://127.0.0.1:$bound/rules/evaluate")
    Thread.currentThread().join()
  }
}
