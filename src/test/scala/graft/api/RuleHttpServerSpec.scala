package graft.api

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

class RuleHttpServerSpec extends SparkSpec {

  private def post(port: Int, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/rules/evaluate"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private val users =
    """[{"NationalIdNumber":"100","LoginName":"alice","RegNo":"9","Id":"u1","Title":"Manager","CompanyCode":"C1","IsActive":true},
        {"NationalIdNumber":"250","LoginName":"bob","RegNo":"10","Id":"u2","Title":"Engineer","CompanyCode":"C2","IsActive":true},
        {"NationalIdNumber":"999","LoginName":"carol","RegNo":"11","Id":"u3","Title":null,"CompanyCode":"C1","IsActive":false}]"""

  test("POST /rules/evaluate: 200 with matching rows (reference controller contract)") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val resp = post(port,
        s"""{"Rule":{"Conditions":{"Conditions":[
              {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}},
            "Users":$users}""")
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("alice") && resp.body().contains("carol"))
      assert(!resp.body().contains("bob"))
      // case-insensitive field binding, like ASP.NET
      val resp2 = post(port,
        s"""{"rule":{"Conditions":{"Conditions":[
              {"Property":"loginname","Operator":"StartsWith","Value":"b"}]}},
            "USERS":$users}""")
      assert(resp2.statusCode() == 200 && resp2.body().contains("bob"))
    } finally srv.stop()
  }

  test("concurrent requests: two rules in flight share one SparkSession safely") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // 8 requests / 2 distinct rules, all in flight at once — each answer
      // must match ITS OWN rule (no cross-request plan or result bleed
      // through the shared SparkSession) and nothing may 500
      val futures = (1 to 8).map { i =>
        Future {
          if (i % 2 == 0)
            ("even", post(port,
              s"""{"Rule":{"Conditions":{"Conditions":[
                    {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}},
                  "Users":$users}"""))
          else
            ("odd", post(port,
              s"""{"Rule":{"Conditions":{"Conditions":[
                    {"Property":"LoginName","Operator":"StartsWith","Value":"b"}]}},
                  "Users":$users}"""))
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach { case (kind, resp) =>
        assert(resp.statusCode() == 200, s"$kind: ${resp.body()}")
        if (kind == "even") {
          assert(resp.body().contains("alice") && resp.body().contains("carol"))
          assert(!resp.body().contains("bob"))
        } else {
          assert(resp.body().contains("bob"))
          assert(!resp.body().contains("alice"))
        }
      }
    } finally srv.stop()
  }

  test("POST /rules/evaluate: invalid rule -> 400 {Error}, like the reference's BadRequest") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val bad = post(port,
        s"""{"Rule":{"Conditions":{"Conditions":[
              {"Property":"NoSuchColumn","Operator":"Equal","Value":1}]}},
            "Users":$users}""")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("Error"))
      val noRule = post(port, s"""{"Users":$users}""")
      assert(noRule.statusCode() == 400 && noRule.body().contains("Rule is required"))
    } finally srv.stop()
  }

  private val bobOnly =
    """[{"NationalIdNumber":"250","LoginName":"bob","RegNo":"10","Id":"u2","Title":"Engineer","CompanyCode":"C2","IsActive":true}]"""
  private val companyC1 =
    """{"Conditions":{"Conditions":[{"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}}"""
  private val loginStartsB =
    """{"Conditions":{"Conditions":[{"Property":"LoginName","Operator":"StartsWith","Value":"b"}]}}"""

  test("POST /rules/evaluate: a key repeated exactly binds its last value") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val resp = post(port,
        s"""{"Rule":$companyC1,"Users":$bobOnly,"Rule":$loginStartsB,"Users":$users}""")
      // Jackson's tree keeps the last value of a repeated key: the
      // StartsWith rule over all three users
      assert(resp.statusCode() == 200)
      assert(resp.body() == """[{"CompanyCode":"C2","Id":"u2","IsActive":true,""" +
        """"LoginName":"bob","NationalIdNumber":"250","RegNo":"10","Title":"Engineer"}]""")
    } finally srv.stop()
  }

  test("POST /rules/evaluate: keys differing only in case bind the first in document order") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val resp = post(port,
        s"""{"rule":$companyC1,"Rule":$loginStartsB,"users":$users,"Users":$bobOnly}""")
      // the case-insensitive lookup takes the first variant it meets: the
      // CompanyCode rule over all three users
      assert(resp.statusCode() == 200)
      assert(resp.body() == """[{"CompanyCode":"C1","Id":"u1","IsActive":true,""" +
        """"LoginName":"alice","NationalIdNumber":"100","RegNo":"9","Title":"Manager"},""" +
        """{"CompanyCode":"C1","Id":"u3","IsActive":false,""" +
        """"LoginName":"carol","NationalIdNumber":"999","RegNo":"11"}]""")
    } finally srv.stop()
  }

  test("requests run on rule-http-<n> threads, and stop() waits for them to end") {
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("rule-http-"))
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    val resp = post(port,
      s"""{"Rule":{"Conditions":{"Conditions":[
            {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}},
          "Users":$users}""")
    assert(resp.statusCode() == 200)
    val threads = poolThreads.filter(_.isAlive)
    assert(threads.nonEmpty && threads.forall(_.getName.matches("rule-http-[0-9]+")))
    srv.stop()
    threads.foreach(_.join(10000))
    assert(!threads.exists(_.isAlive))
  }

  test("replies on a keep-alive connection do not wait for the client's delayed ACK") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      // one client, so all 40 requests share one connection; a GET gets the
      // 405 reply without touching Spark, so only the transport is timed
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val get = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/rules/evaluate")).GET().build()
      val ms = (1 to 40).map { _ =>
        val t0 = System.nanoTime()
        val resp = client.send(get, HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 405 && resp.body().contains("POST required"))
        (System.nanoTime() - t0) / 1e6
      }
      // headers and body leave in two writes: with Nagle on, the body waits
      // for the ACK of the headers, which the client delays by ~40 ms
      val median = ms.drop(10).sorted.apply(15)
      assert(median < 20, f"median $median%.1f ms over the last 30 of ${ms.map(m => f"$m%.1f")}")
    } finally srv.stop()
  }
}
