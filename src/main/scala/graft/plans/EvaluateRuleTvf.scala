package graft.plans

import graft.model.RuleJson
import graft.rules.{RuleEvaluator, RuleSetExecutor}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** SQL-only rule evaluation as TABLE-VALUED FUNCTIONS:
  *
  * {{{
  * SELECT * FROM evaluate_rule('customer', '{"Conditions":{...}}')
  * SELECT * FROM evaluate_rules('customer', '[{...}, {...}]')   -- UNION DISTINCT
  * }}}
  *
  * The builder runs at analysis time on the driver: it resolves the named
  * table through the active session, pushes it through the FULL engine
  * ([[RuleEvaluator]] / [[RuleSetExecutor]] — filters, group-by,
  * argmin/argmax, Count, validation, the whole surface), and splices the
  * resulting logical plan into the outer query. Nothing is re-implemented:
  * SQL users get exactly the library's semantics and exactly the plans
  * Catalyst would give the DataFrame API (pushdown, codegen, AQE included),
  * because it IS the same plan.
  */
object EvaluateRuleTvf {

  // argument, session, plan and registration helpers shared with GraftTvfs
  private[plans] def stringLit(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private[plans] def activeSession: SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))

  private[plans] def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.logical

  private[plans] def registerAll(spark: SparkSession,
                                 builders: Map[String, Seq[Expression] => LogicalPlan]): Unit =
    builders.foreach { case (name, builder) =>
      ColumnBridge.registerTableFunction(spark, name, builder)
    }

  private def paramsArg(args: Seq[Expression], at: Int): Map[String, Any] =
    if (args.length > at) RuleJson.parseParams(stringLit(args(at), "params json"))
    else Map.empty

  /** `evaluate_rule(table, ruleJson[, paramsJson])` → the rule's result
    * plan; the optional third argument is a JSON object of external
    * parameters for the Dynamic* operator family, identical to the
    * library path's `externalParams`.
    */
  val evaluateRule: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 2 || args.length == 3,
      "usage: evaluate_rule('<table>', '<rule json>'[, '<params json object>'])")
    val spark = activeSession
    val df = spark.table(stringLit(args.head, "table name"))
    plan(RuleEvaluator(df, RuleJson.parseRule(stringLit(args(1), "rule json")),
      paramsArg(args, 2)))
  }

  /** `evaluate_rules(table, rulesJson[, paramsJson])` → UNION DISTINCT of
    * the rules, sharing one external-parameter object.
    */
  val evaluateRules: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 2 || args.length == 3,
      "usage: evaluate_rules('<table>', '<rules json array>'[, '<params json object>'])")
    val spark = activeSession
    val df = spark.table(stringLit(args.head, "table name"))
    plan(RuleSetExecutor.executeAll(df,
      RuleJson.parseRules(stringLit(args(1), "rules json")), paramsArg(args, 2)))
  }

  val all: Map[String, Seq[Expression] => LogicalPlan] = Map(
    "evaluate_rule" -> evaluateRule,
    "evaluate_rules" -> evaluateRules)

  /** Session-local runtime registration (pair of `GraftFunctions.register`). */
  def register(spark: SparkSession): Unit = registerAll(spark, all)
}
