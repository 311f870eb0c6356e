package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.{FoldRequestRelation, LocalJsonRelation, RequestRelation, RequestScan}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{count, countDistinct, expr, lit, max}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The driver-side decode must give exactly what `spark.read.json` gives
  * over the same text, through both entries: the `String` one and the
  * already-parsed `JsonNode` one. Its rows live in a `RequestRelation` leaf,
  * whose contract is pinned below.
  */
class LocalJsonRelationSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private val wellFormed = Seq(
    "numeric strings" -> """[{"RegNo":"9","Id":"007"},{"RegNo":"10","Id":"1e3"}]""",
    "longs and doubles" -> """[{"l":1,"d":1.5},{"l":-9007199254740993,"d":2.25E10}]""",
    "integer past Long" -> """[{"big":18446744073709551616},{"big":1}]""",
    "all-null column" -> """[{"a":1,"n":null},{"a":2,"n":null}]""",
    "nested objects and arrays" ->
      """[{"o":{"x":1,"ys":[1,2]},"arr":[{"k":"v"},{"k":null}]},{"o":{"x":2,"z":"s"},"arr":[]}]""",
    "long in some rows, double in others" -> """[{"v":1},{"v":2.5},{"v":null}]""",
    "number in some rows, string in others" ->
      """[{"v":1},{"v":"x"},{"v":2.50},{"v":1e3},{"v":12345678901234567890},{"v":true}]""",
    "keys that differ only in case" -> """[{"a":1,"A":"x"},{"a":2}]""",
    "empty array" -> "[]",
    "single top-level object" -> """{"a":1,"b":"x"}""",
    "non-object element" -> """[{"a":1},5]""",
    "non-object root" -> "5")

  private val malformed = Seq(
    "truncated" -> """[{"a":1},{"a":""",
    "bad token" -> """[{"a":1},{broken}]""")

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema == want.schema, clue)
    assert(got.collect().toSeq == want.collect().toSeq, clue)
  }

  private def expected(json: String): DataFrame = spark.read.json(Seq(json).toDS())

  test("String entry equals spark.read.json on every fixture") {
    (wellFormed ++ malformed).foreach { case (name, json) =>
      assertSame(LocalJsonRelation.fromString(spark, json), expected(json), name)
    }
  }

  test("JsonNode entry equals spark.read.json on every well-formed fixture") {
    wellFormed.foreach { case (name, json) =>
      assertSame(LocalJsonRelation.fromNode(spark, mapper.readTree(json)), expected(json), name)
    }
  }

  test("through the JsonNode entry, a corrupt record's text is the node's compact JSON") {
    // a non-object element makes the whole array one corrupt record
    val got = LocalJsonRelation.fromNode(spark, mapper.readTree("""[{"a": 1}, 5]"""))
    assert(got.columns.toSeq == Seq("_corrupt_record"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("""[{"a":1},5]"""))
  }

  private val users =
    """[{"LoginName":"alice","CompanyCode":"C1"},{"LoginName":"bob","CompanyCode":"C2"},
       {"LoginName":"carol","CompanyCode":"C1"}]"""
  private val inC1 =
    """{"Conditions":{"Conditions":[{"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}}"""

  test("the analyzed plan of RuleService.evaluate holds the request leaf and no LocalRelation") {
    val plan = RuleService.evaluate(spark, users, inC1).queryExecution.analyzed
    assert(plan.collect { case r: RequestRelation => r }.size == 1)
    assert(plan.collect { case r: LocalRelation => r }.isEmpty)
  }

  test("a self-join of a decoded frame resolves and is correct") {
    val df = LocalJsonRelation.fromString(spark, """[{"k":1,"v":"a"},{"k":2,"v":"b"},{"k":1,"v":"c"}]""")
    val got = df.as("l").join(df.as("r"), $"l.k" === $"r.k")
      .select($"l.v", $"r.v").as[(String, String)].collect().sorted.toSeq
    assert(got == Seq(("a", "a"), ("a", "c"), ("b", "b"), ("c", "a"), ("c", "c")))
  }

  test("the leaf reports a non-zero sizeInBytes") {
    val stats = LocalJsonRelation.fromString(spark, users).queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0)
    assert(stats.rowCount.contains(BigInt(3)))
  }

  test("the plans of a 50k-row request print its row count, never its rows") {
    val big = (0 until 50000).map(i => s"""{"LoginName":"user$i","CompanyCode":"C${i % 7}"}""")
      .mkString("[", ",", "]")
    val qe = RuleService.evaluate(spark, big, inC1).queryExecution
    Seq(qe.toString, qe.explainString(FormattedMode)).foreach { text =>
      assert(text.length < 4000, text.take(4000))
      assert(!text.contains("user49999"))
    }
    assert(qe.toString.contains("50000 rows"))
  }

  test("the rows a finished request returned are unchanged after a second request runs") {
    val first = RuleService.evaluate(spark, users, inC1)
    val before = first.collect().toSeq
    RuleService.evaluateToJson(spark,
      """[{"LoginName":"zed","CompanyCode":"C1"},{"LoginName":"yan","CompanyCode":"C1"}]""", inC1)
    assert(first.collect().toSeq == before)
    assert(before.map(_.getAs[String]("LoginName")).sorted == Seq("alice", "carol"))
  }

  test("installing twice, or from many threads at once, leaves one rule and one strategy") {
    def installedOnce(session: SparkSession): Unit = {
      assert(session.experimental.extraOptimizations.count(_ eq FoldRequestRelation) == 1)
      assert(session.experimental.extraStrategies.count(_ eq RequestScan) == 1)
    }
    val twice = spark.newSession()
    RequestRelation.install(twice)
    RequestRelation.install(twice)
    installedOnce(twice)
    val raced = spark.newSession()
    Await.result(Future.sequence((1 to 8).map(_ => Future(RequestRelation.install(raced)))), 60.seconds)
    installedOnce(raced)
    // the decode installs as well, and adds nothing to a session that has both
    assert(LocalJsonRelation.fromString(twice, users).count() == 3)
    installedOnce(twice)
  }

  test("the fold rule returns a plan without the leaf unchanged") {
    Seq(spark.range(10).filter($"id" > 3).select(($"id" + 1).as("x")),
      Seq(1, 2).toDF("a").filter($"a" > 1)).foreach { df =>
      val plan = df.queryExecution.analyzed
      assert(FoldRequestRelation(plan) eq plan)
    }
  }

  /** `query` over the decoded rows and over `spark.read.json` of the same
    * text: the same rows, in any order, and the decoded side's job count.
    */
  private def jobsOverLeaf(json: String, query: DataFrame => DataFrame, clue: String): Int = {
    var got = Seq.empty[String]
    val jobs = jobsOf { got = query(LocalJsonRelation.fromString(spark, json)).collect().map(_.toString).toSeq }
    assert(got.sorted == query(expected(json)).collect().map(_.toString).toSeq.sorted, clue)
    jobs
  }

  private val keyed =
    """[{"a":"x","b":1,"s":"0.0","v":3},{"a":null,"b":1,"s":"-0.0","v":5},{"a":null,"b":null,"s":"NaN","v":1},
       {"b":null,"s":"1.5","v":2},{"a":"x","b":null,"s":"-0.0","v":4},{"a":"x","b":1,"s":"NaN","v":0}]"""

  test("an aggregate over the leaf folds on the driver and equals spark.read.json") {
    val folded = Seq[(String, String, DataFrame => DataFrame)](
      ("grand count over no rows", "[]", _.agg(count(lit(1)).as("n"))),
      ("grand count over rows filtered away", keyed, _.filter($"v" > 9).agg(count(lit(1)).as("n"))),
      ("grand max", keyed, _.agg(max($"v"), count($"a"))),
      ("multi-column key with nulls", keyed, _.groupBy($"a", $"b").agg(count(lit(1)), max($"v"))),
      ("double key: 0.0 and -0.0 one group, NaN another", keyed,
        _.groupBy($"s".cast("double").as("d")).agg(count(lit(1)).as("n"))),
      ("expression key and expression result", keyed,
        _.groupBy($"v" % 2).agg((count(lit(1)) * 10 + $"v" % 2).as("r"))))
    folded.foreach { case (clue, json, query) =>
      assert(jobsOverLeaf(json, query, clue) == 0, clue)
    }
  }

  test("ARGMAX rules fold too: a grand ARGMAX over no rows gives no row, a grouped one a row per group") {
    val grand = """{"Conditions":{"Conditions":[{"Property":"v","Operator":"GreaterThan","Value":9}]},
                    "Aggregation":{"AggregateProperty":"v","AggregateFunction":"Max"}}"""
    val grouped = """{"GroupBy":["a"],"Aggregation":{"AggregateProperty":"v","AggregateFunction":"Max"}}"""
    Seq("grand over no rows" -> grand, "grouped" -> grouped).foreach { case (clue, rule) =>
      val parsed = graft.model.RuleJson.parseRule(rule)
      assert(jobsOverLeaf(keyed, graft.rules.RuleEvaluator(_, parsed), clue) == 0, clue)
    }
    assert(RuleService.evaluate(spark, keyed, grand).collect().isEmpty)
  }

  test("DISTINCT and FILTER aggregates are declined: they still run a job and stay correct") {
    Seq[(String, DataFrame => DataFrame)](
      "countDistinct" -> (_.groupBy($"a").agg(countDistinct($"b"))),
      "count(*) FILTER" -> (_.groupBy($"a").agg(expr("count(*) FILTER (WHERE v > 2)")))
    ).foreach { case (clue, query) =>
      assert(jobsOverLeaf(keyed, query, clue) >= 1, clue)
    }
  }
}
