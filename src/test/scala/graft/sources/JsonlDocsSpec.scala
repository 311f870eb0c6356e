package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types.StructType

class JsonlDocsSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = "/root/repo/src/test/resources/jsonl/docs.jsonl"
  private val schema = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING")

  test("clean rows parse with the declared schema; corrupt lines quarantine") {
    val raw = JsonlDocs.read(spark, fixture, schema)
    val clean = JsonlDocs.clean(raw)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(clean.count() == 8)
    assert(clean.select("doc_id").as[Long].collect().sorted.toSeq
      == (1L to 8L))
    // the two broken lines survive verbatim for replay
    val bad = JsonlDocs.quarantine(raw).as[String].collect().toSet
    assert(bad == Set(
      "{broken json line that cannot parse}",
      "another broken line, not json at all"))
    // nothing silently dropped: clean + quarantined == input lines
    assert(clean.count() + bad.size == 10)
  }

  test("read refuses a schema that collides with the corrupt column") {
    intercept[IllegalArgumentException] {
      JsonlDocs.read(spark, fixture,
        StructType.fromDDL(s"doc_id BIGINT, ${JsonlDocs.CorruptCol} STRING"))
    }
  }

  test("CSV twin: type-violating rows quarantine, quoted commas parse") {
    val raw = CsvDocs.read(spark,
      "/root/repo/src/test/resources/csv/docs.csv", schema)
    val clean = JsonlDocs.clean(raw)
    assert(clean.count() == 8)
    assert(clean.select("doc_id").as[Long].collect().sorted.toSeq == (1L to 8L))
    // the quoted-comma row survives as one field
    assert(clean.filter($"doc_id" === 4L).select("text").as[String].head()
      == "le renard, brun et rapide, saute")
    val bad = JsonlDocs.quarantine(raw).as[String].collect().toSet
    assert(bad == Set(
      "not_a_number,this row has a bad id,en",
      "also not numeric at all"))
  }
}
