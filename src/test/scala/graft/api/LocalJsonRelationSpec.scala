package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.json.LocalJsonRelation

/** The driver-side decode must give exactly what `spark.read.json` gives
  * over the same text, through both entries: the `String` one and the
  * already-parsed `JsonNode` one.
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
}
