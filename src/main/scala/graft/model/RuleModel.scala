package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** JSON-carried condition value.
  *
  * The reference keeps condition values as raw `System.Text.Json.JsonElement`s
  * and coerces them to the column type at compile time
  * (reference: `IQueryableRuleEvaluator.cs:531-559`). We mirror that with a
  * small ADT so the compiler layer owns all coercion decisions.
  */
sealed trait RuleValue
object RuleValue {
  case object Null extends RuleValue
  final case class Str(v: String) extends RuleValue
  final case class Num(v: BigDecimal) extends RuleValue
  final case class Bool(v: Boolean) extends RuleValue
  final case class Arr(items: Seq[RuleValue]) extends RuleValue
  final case class Obj(fields: Seq[(String, RuleValue)]) extends RuleValue {
    /** Case-insensitive field lookup (matches .NET JSON binding leniency). */
    def get(name: String): Option[RuleValue] =
      fields.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  }
}

/** One predicate leaf: `{Property, Operator, Value}`
  * (reference: `RuleModels.cs:28-33`). Operator names match
  * case-insensitively (`IQueryableRuleEvaluator.cs:135`).
  */
final case class Condition(property: String, operator: String, value: RuleValue)

/** Recursive boolean tree (reference: `RuleModels.cs:20-26`).
  * `logicalOperator` is `"AND"` (default) or `"OR"`; `negate` wraps the folded
  * body in NOT (`IQueryableRuleEvaluator.cs:112-115`). An empty group
  * evaluates to TRUE (`IQueryableRuleEvaluator.cs:103-106`).
  */
final case class ConditionGroup(
    logicalOperator: String = "AND",
    negate: Boolean = false,
    conditions: Seq[Condition] = Nil,
    groups: Seq[ConditionGroup] = Nil) {
  /** True when the group carries no semantic content — used to skip the
    * filter stage entirely. A NEGATED empty group is NOT contentless: it
    * compiles to `NOT true = false` and must keep the filter.
    */
  def isEmpty: Boolean = !negate && conditions.isEmpty && groups.forall(_.isEmpty)
}

/** `{AggregateProperty, AggregateFunction}` with
  * `AggregateFunction ∈ {Min, Max, Count}` (reference: `RuleModels.cs:35-46`).
  * Min/Max are ARGMIN/ARGMAX — they return the whole row whose aggregate
  * property is smallest/largest per group (`IQueryableRuleEvaluator.cs:66-70`).
  */
final case class Aggregation(aggregateProperty: String, aggregateFunction: String)

/** `{CompositeId}` integration hook (reference: `RuleModels.cs:49-52`,
  * bound at `RuleModels.cs:13` as `Integration`) — carried, never
  * interpreted by the engine; preserved so reference-authored rule JSON
  * round-trips losslessly.
  */
final case class IntegrationBinding(compositeId: Option[String] = None)

/** The rule IR (reference: `RuleModels.cs:3-18`). Metadata fields are carried
  * but never interpreted by the engine — only `conditions`, `groupBy`,
  * `aggregation` drive execution. `version` is a double (`RuleModels.cs:7`);
  * `createdAt` carries the JSON timestamp text verbatim (the reference's
  * `DateTime` serializes as an ISO-8601 string — keeping the raw text is the
  * only lossless round-trip).
  */
final case class RuleDefinition(
    name: String = "",
    comment: String = "",
    version: Double = 0,
    isActive: Boolean = true,
    createdBy: String = "",
    createdAt: String = "",
    sourceType: String = "",
    targetType: String = "",
    integration: Option[IntegrationBinding] = None,
    errorMessage: String = "",
    conditions: Option[ConditionGroup] = None,
    groupBy: Seq[String] = Nil,
    aggregation: Option[Aggregation] = None)

/** Parses rule JSON into [[RuleDefinition]]. Field names are matched
  * case-insensitively, mirroring ASP.NET model binding on the reference's
  * HTTP surface (`RuleController.cs:12-14`).
  */
object RuleJson {
  private val mapper = new ObjectMapper()

  def parseRule(json: String): RuleDefinition = ruleFromNode(mapper.readTree(json))

  /** Serializes a rule back to the reference's JSON shape (PascalCase
    * fields, enum-as-string) — `parseRule(write(r)) == r`.
    */
  def write(rule: RuleDefinition): String = {
    val root = mapper.createObjectNode()
    if (rule.name.nonEmpty) root.put("Name", rule.name)
    if (rule.comment.nonEmpty) root.put("Comment", rule.comment)
    if (rule.version != 0) root.put("Version", rule.version)
    root.put("IsActive", rule.isActive)
    if (rule.createdBy.nonEmpty) root.put("CreatedBy", rule.createdBy)
    if (rule.createdAt.nonEmpty) root.put("CreatedAt", rule.createdAt)
    if (rule.sourceType.nonEmpty) root.put("SourceType", rule.sourceType)
    if (rule.targetType.nonEmpty) root.put("TargetType", rule.targetType)
    rule.integration.foreach { ib =>
      val o = root.putObject("Integration")
      ib.compositeId.foreach(o.put("CompositeId", _))
    }
    if (rule.errorMessage.nonEmpty) root.put("ErrorMessage", rule.errorMessage)
    rule.conditions.foreach(g => root.set[JsonNode]("Conditions", groupToNode(g)))
    if (rule.groupBy.nonEmpty) {
      val arr = root.putArray("GroupBy")
      rule.groupBy.foreach(arr.add)
    }
    rule.aggregation.foreach { a =>
      val o = root.putObject("Aggregation")
      o.put("AggregateProperty", a.aggregateProperty)
      o.put("AggregateFunction", a.aggregateFunction)
    }
    mapper.writeValueAsString(root)
  }

  private def groupToNode(g: ConditionGroup): JsonNode = {
    val o = mapper.createObjectNode()
    o.put("LogicalOperator", g.logicalOperator)
    o.put("Negate", g.negate)
    val cs = o.putArray("Conditions")
    g.conditions.foreach { c =>
      val cn = cs.addObject()
      cn.put("Property", c.property)
      cn.put("Operator", c.operator)
      cn.set[JsonNode]("Value", valueToNode(c.value))
    }
    val gs = o.putArray("Groups")
    g.groups.foreach(sub => gs.add(groupToNode(sub)))
    o
  }

  private def valueToNode(v: RuleValue): JsonNode = v match {
    case RuleValue.Null => mapper.nullNode()
    case RuleValue.Str(s) => mapper.getNodeFactory.textNode(s)
    case RuleValue.Num(n) => mapper.getNodeFactory.numberNode(n.underlying)
    case RuleValue.Bool(b) => mapper.getNodeFactory.booleanNode(b)
    case RuleValue.Arr(xs) =>
      val a = mapper.createArrayNode()
      xs.foreach(x => a.add(valueToNode(x)))
      a
    case RuleValue.Obj(fields) =>
      val o = mapper.createObjectNode()
      fields.foreach { case (k, x) => o.set[JsonNode](k, valueToNode(x)) }
      o
  }

  def parseRules(json: String): Seq[RuleDefinition] = {
    val n = mapper.readTree(json)
    require(n.isArray, "expected a JSON array of rules")
    n.elements().asScala.map(ruleFromNode).toSeq
  }

  def parseValue(json: String): RuleValue = valueFromNode(mapper.readTree(json))

  /** Parses a JSON OBJECT (`{"name": value, ...}`) of external parameters
    * into the map the evaluator's Dynamic* operators resolve against
    * (values arrive as [[RuleValue]], which the compiler accepts as-is).
    */
  def parseParams(json: String): Map[String, Any] = {
    val n = mapper.readTree(json)
    require(n.isObject, "expected a JSON object of external parameters")
    n.properties().asScala.map(e => e.getKey -> (valueFromNode(e.getValue): Any)).toMap
  }

  private def field(n: JsonNode, name: String): Option[JsonNode] =
    n.properties().asScala
      .collectFirst { case e if e.getKey.equalsIgnoreCase(name) => e.getValue }
      .filterNot(_.isNull)

  private[graft] def ruleFromNode(n: JsonNode): RuleDefinition = RuleDefinition(
    name = field(n, "Name").map(_.asText).getOrElse(""),
    comment = field(n, "Comment").map(_.asText).getOrElse(""),
    version = field(n, "Version").map(_.asDouble).getOrElse(0.0),
    isActive = field(n, "IsActive").forall(_.asBoolean),
    createdBy = field(n, "CreatedBy").map(_.asText).getOrElse(""),
    createdAt = field(n, "CreatedAt").map(_.asText).getOrElse(""),
    sourceType = field(n, "SourceType").map(_.asText).getOrElse(""),
    targetType = field(n, "TargetType").map(_.asText).getOrElse(""),
    integration = field(n, "Integration").map(ib =>
      IntegrationBinding(field(ib, "CompositeId").map(_.asText))),
    errorMessage = field(n, "ErrorMessage").map(_.asText).getOrElse(""),
    conditions = field(n, "Conditions").map(groupFromNode),
    groupBy = field(n, "GroupBy")
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
    aggregation = field(n, "Aggregation").map { a =>
      Aggregation(
        field(a, "AggregateProperty").map(_.asText).getOrElse(""),
        field(a, "AggregateFunction").map(_.asText).getOrElse(""))
    })

  private def groupFromNode(n: JsonNode): ConditionGroup = ConditionGroup(
    logicalOperator = field(n, "LogicalOperator").map(_.asText).getOrElse("AND"),
    negate = field(n, "Negate").exists(_.asBoolean),
    conditions = field(n, "Conditions")
      .map(_.elements().asScala.map(condFromNode).toSeq).getOrElse(Nil),
    groups = field(n, "Groups")
      .map(_.elements().asScala.map(groupFromNode).toSeq).getOrElse(Nil))

  private def condFromNode(n: JsonNode): Condition = Condition(
    property = field(n, "Property").map(_.asText).getOrElse(""),
    operator = field(n, "Operator").map(_.asText).getOrElse(""),
    // `field` drops JSON null, so a null Value correctly maps to RuleValue.Null
    // (the trigger for externalParams resolution, `IQueryableRuleEvaluator.cs:238-241`).
    value = field(n, "Value").map(valueFromNode).getOrElse(RuleValue.Null))

  private def valueFromNode(n: JsonNode): RuleValue =
    if (n == null || n.isNull || n.isMissingNode) RuleValue.Null
    else if (n.isBoolean) RuleValue.Bool(n.asBoolean)
    else if (n.isNumber) RuleValue.Num(BigDecimal(n.decimalValue()))
    else if (n.isTextual) RuleValue.Str(n.asText)
    else if (n.isArray) RuleValue.Arr(n.elements().asScala.map(valueFromNode).toSeq)
    else if (n.isObject)
      RuleValue.Obj(n.properties().asScala.map(e => e.getKey -> valueFromNode(e.getValue)).toSeq)
    else RuleValue.Str(n.asText)
}
