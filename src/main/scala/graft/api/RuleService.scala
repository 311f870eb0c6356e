package graft.api

import com.fasterxml.jackson.databind.JsonNode
import graft.model.RuleJson
import graft.rules.{RuleEvaluator, RuleSetExecutor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.LocalJsonRelation
import org.apache.spark.sql.functions.{col, struct, to_json}

/** The reference's product surface, minus the web server: evaluate a rule
  * against rows carried WITH the request
  * (reference `POST /rules/evaluate`, `RuleController.cs:12-28`, request
  * shape `{Rule, Users}` at `:31-35`).
  *
  * Rows arrive as a JSON array; the schema is inferred from the data — the
  * Spark analogue of the reference reflecting over the element type's
  * properties at call time. Inference follows Spark's own JSON rules (the
  * schema and rows equal Spark's JSON reader's over the same text), but runs
  * on the driver with no job: the rows become a `LocalRelation`
  * ([[org.apache.spark.sql.catalyst.json.LocalJsonRelation]]), so a
  * filter-only rule is evaluated and rendered by the optimizer without
  * launching a Spark job; only aggregating rules run one. Results return as a
  * JSON array string, errors as thrown exceptions for the embedding layer to
  * map to its transport (the reference maps them to HTTP 400 `{Error}`).
  *
  * This entry point targets request-sized payloads (the reference literally
  * POSTs the dataset). Cluster-scale data should enter through
  * `spark.read` + [[graft.rules.RuleEvaluator]] directly.
  */
object RuleService {

  /** Evaluate one rule against a JSON array of rows. */
  def evaluate(spark: SparkSession, rowsJson: String, ruleJson: String,
               externalParams: Map[String, Any] = Map.empty): DataFrame =
    RuleEvaluator(LocalJsonRelation.fromString(spark, rowsJson),
      RuleJson.parseRule(ruleJson), externalParams)

  /** Evaluate a JSON array of rules: UNION DISTINCT of per-rule results
    * (reference `RuleDefinitionExecutor.Executes`).
    */
  def evaluateAll(spark: SparkSession, rowsJson: String, rulesJson: String,
                  externalParams: Map[String, Any] = Map.empty): DataFrame =
    RuleSetExecutor.executeAll(LocalJsonRelation.fromString(spark, rowsJson),
      RuleJson.parseRules(rulesJson), externalParams)

  /** End-to-end string → string evaluation (the full request/response
    * round-trip of the reference controller).
    */
  def evaluateToJson(spark: SparkSession, rowsJson: String, ruleJson: String,
                     externalParams: Map[String, Any] = Map.empty): String =
    toJsonArray(evaluate(spark, rowsJson, ruleJson, externalParams))

  /** The same round-trip over a request body Jackson has already parsed. */
  private[api] def evaluateToJson(spark: SparkSession, rows: JsonNode, rule: JsonNode): String =
    toJsonArray(RuleEvaluator(LocalJsonRelation.fromNode(spark, rows), RuleJson.ruleFromNode(rule)))

  /** Renders `df` as `toJSON.collect().mkString("[", ",", "]")` does — same
    * `JacksonGenerator`, same null-field omission — but as a projection, which
    * `ConvertToLocalRelation` folds into a local result with no job.
    */
  private[api] def toJsonArray(df: DataFrame): String =
    df.select(to_json(struct(col("*")))).collect().iterator.map(_.getString(0)).mkString("[", ",", "]")
}
