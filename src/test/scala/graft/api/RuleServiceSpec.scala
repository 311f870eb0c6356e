package graft.api

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, lit, map, struct}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class RuleServiceSpec extends SparkSpec {
  import spark.implicits._

  private val users =
    """[{"LoginName":"alice","RegNo":"9","CompanyCode":"C1","IsActive":true},
       {"LoginName":"bob","RegNo":"10","CompanyCode":"C2","IsActive":true},
       {"LoginName":"carol","RegNo":"11","CompanyCode":"C1","IsActive":false}]"""

  test("data-in-request evaluation with inferred schema (reference controller parity)") {
    val got = RuleService.evaluate(spark, users,
      """{"Name":"active-c1","Conditions":{"Conditions":[
           {"Property":"IsActive","Operator":"Equal","Value":true},
           {"Property":"companycode","Operator":"Equal","Value":"C1"}]}}""")
      .select("LoginName").as[String].collect().toSet
    assert(got == Set("alice"))
  }

  test("numeric lift works on inferred string columns") {
    val got = RuleService.evaluate(spark, users,
      """{"Conditions":{"Conditions":[
           {"Property":"RegNo","Operator":"GreaterThan","Value":9}]}}""")
      .select("LoginName").as[String].collect().toSet
    assert(got == Set("bob", "carol"))
  }

  test("multi-rule union distinct and JSON round-trip") {
    val json = RuleService.evaluateToJson(spark, users,
      """{"Conditions":{"Conditions":[
           {"Property":"LoginName","Operator":"StartsWith","Value":"a"}]}}""")
    assert(json.contains("\"alice\"") && !json.contains("\"bob\""))

    val all = RuleService.evaluateAll(spark, users,
      """[{"Conditions":{"Conditions":[
            {"Property":"LoginName","Operator":"Equal","Value":"alice"}]}},
          {"Conditions":{"Conditions":[
            {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}}]""")
      .select("LoginName").as[String].collect().toSet
    assert(all == Set("alice", "carol"))
  }

  test("validation error surfaces as an exception (reference maps to HTTP 400)") {
    intercept[graft.model.RuleValidator.RuleValidationException] {
      RuleService.evaluate(spark, users,
        """{"Conditions":{"Conditions":[
             {"Property":"Nope","Operator":"Equal","Value":1}]}}""")
    }
  }

  private val ruleUsers =
    """[{"NationalIdNumber":"100","LoginName":"alice","RegNo":"9","Id":"u1","Title":"Manager","CompanyCode":"C1","IsActive":true},
       {"NationalIdNumber":"250","LoginName":"bob","RegNo":"10","Id":"u2","Title":"Engineer","CompanyCode":"C2","IsActive":true},
       {"NationalIdNumber":"999","LoginName":"carol","RegNo":"11","Id":"u3","Title":null,"CompanyCode":"C1","IsActive":false},
       {"NationalIdNumber":"42x","LoginName":"dave","RegNo":"2000","Id":"u4","Title":"Sales Manager","CompanyCode":"C3","IsActive":true},
       {"NationalIdNumber":"7","LoginName":"erin","RegNo":"1500","Id":"u5","Title":"","CompanyCode":"C2","IsActive":false}]"""

  /** The rule shapes that need no external parameters. */
  private lazy val staticRules: Seq[Path] =
    Files.list(Paths.get("src/test/resources/rules")).iterator().asScala
      .filter(f => f.toString.endsWith(".json") && !Files.readString(f).contains("\"Dynamic"))
      .toSeq.sortBy(_.toString)

  private def assertRendersLikeToJson(df: DataFrame, clue: String): Unit =
    assert(RuleService.toJsonArray(df) == df.toJSON.collect().mkString("[", ",", "]"), clue)

  test("the renderer equals toJSON byte for byte on every static golden rule") {
    assert(staticRules.size == 7)
    staticRules.foreach { f =>
      assertRendersLikeToJson(RuleService.evaluate(spark, ruleUsers, Files.readString(f)), f.toString)
    }
  }

  test("the renderer equals toJSON on nulls, nested values, decimals and odd names") {
    val nulls = Seq(("a", Some(1)), (null, None), ("c", None)).toDF("s", "n")
    assertRendersLikeToJson(nulls, "null fields")
    assert(!RuleService.toJsonArray(nulls).contains("null"))
    assertRendersLikeToJson(nulls.select(
      struct($"s", $"n").as("st"), array($"n", lit(null).cast("int")).as("arr"),
      map(lit("k"), $"s").as("m")), "nested")
    assertRendersLikeToJson(Seq("1.50", "-0.001", null).toDF("d")
      .select($"d".cast("decimal(12,3)").as("d"), $"d".cast("decimal(38,18)").as("wide")), "decimals")
    assertRendersLikeToJson(Seq((1, "x", 2.5, true)).toDF("a.b", "c`d", "A", "a"), "odd names")
    assertRendersLikeToJson(spark.range(3).toDF("id"), "non-local frame")
    assertRendersLikeToJson(RuleService.evaluate(spark, "[]", "{}"), "no rows, no columns")
  }

  /** Spark jobs launched by `body`, counted once the listener bus is drained. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("evaluateToJson launches no Spark job for filter-only rules, at most 2 for Count and Max") {
    val params = Map[String, Any]("CompanyCode" -> "C2", "LoginName" -> "x")
    val rules = Files.list(Paths.get("src/test/resources/rules")).iterator().asScala
      .filter(_.toString.endsWith(".json")).toSeq
    assert(rules.size == 8)
    rules.foreach { f =>
      val rule = Files.readString(f)
      val jobs = jobsOf(RuleService.evaluateToJson(spark, ruleUsers, rule, params))
      if (rule.contains("\"Aggregation\"")) assert(jobs <= 2, f.toString)
      else assert(jobs == 0, f.toString)
    }
  }
}
