package org.apache.spark.sql.catalyst.json

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.Utils

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

/** Decodes ONE JSON record — an object, or an array of objects — into a
  * DataFrame on the driver, launching no Spark job.
  *
  * The result equals `spark.read.json(Seq(record).toDS())` in schema and rows:
  * it runs the same Spark code that `DataFrameReader.json(Dataset[String])`
  * runs inside its two jobs — `JsonInferSchema.inferField`, the
  * `compatibleRootType` merge folded from an empty struct, `canonicalizeType`,
  * then `JacksonParser(allowArrayAsStructs = true)` inside a PERMISSIVE
  * `FailureSafeParser` — with the same default `JSONOptions`, and keeps the
  * rows in a [[RequestRelation]]. Before it builds the frame it installs the
  * leaf's optimizer rule and planner strategy in the session
  * ([[RequestRelation.install]]), so the optimizer evaluates filters and
  * projections over the rows on the driver and the planner scans them as one
  * partition.
  *
  * This object lives in Spark's package because `canonicalizeType` is
  * package-private to it. It suits records that are already in driver memory,
  * such as a request body; files and tables belong to `spark.read`.
  */
object LocalJsonRelation {

  def fromString(spark: SparkSession, json: String): DataFrame =
    decode(spark, json, CreateJacksonParser.string, UTF8String.fromString)

  /** For a body already parsed by Jackson: the tree is streamed back through
    * `traverse()`, and a corrupt record's text is the node's compact JSON.
    */
  def fromNode(spark: SparkSession, node: JsonNode): DataFrame =
    decode[JsonNode](spark, node, (_, n) => n.traverse(), n => UTF8String.fromString(n.toString))

  private def decode[T](spark: SparkSession, record: T,
                        createParser: (JsonFactory, T) => JsonParser,
                        recordLiteral: T => UTF8String): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val conf = session.sessionState.conf
      val options = new JSONOptions(
        Map.empty[String, String], conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val schema = inferSchema(options, record, createParser)
      ExprUtils.verifyColumnNameOfCorruptRecord(schema, options.columnNameOfCorruptRecord)
      val actualSchema = StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord))
      val rawParser = new JacksonParser(actualSchema, options, allowArrayAsStructs = true)
      val parser = new FailureSafeParser[T](
        rawParser.parse(_, createParser, recordLiteral),
        options.parseMode, schema, options.columnNameOfCorruptRecord)
      // compact copies: FailureSafeParser reuses one row for every corrupt
      // record, and a plan's rows live as long as its QueryExecution, which
      // Spark's listener bus holds until its next event
      val toUnsafe = UnsafeProjection.create(schema)
      val rows = parser.parse(record).map(toUnsafe(_).copy()).toArray
      RequestRelation.install(session)
      classic.Dataset.ofRows(session,
        RequestRelation(DataTypeUtils.toAttributes(schema), new RequestRows(rows)))
    }
  }

  /** `JsonInferSchema.infer` for a single record, without its job. */
  private def inferSchema[T](options: JSONOptions, record: T,
                             createParser: (JsonFactory, T) => JsonParser): StructType = {
    val inference = new JsonInferSchema(options)
    val recordType = try {
      Utils.tryWithResource(createParser(options.buildJsonFactory(), record)) { parser =>
        parser.nextToken()
        inference.inferField(parser)
      }
    } catch {
      // the options name no mode, so this is PERMISSIVE's answer
      case _: RuntimeException | _: JsonProcessingException | _: MalformedInputException |
           _: CharConversionException =>
        StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
    }
    val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    inference.canonicalizeType(merge(StructType(Nil), recordType), options)
      .collectFirst { case s: StructType => s }
      // canonicalizeType erases every empty struct, the root one included
      .getOrElse(StructType(Nil))
  }
}
