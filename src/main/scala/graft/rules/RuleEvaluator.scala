package graft.rules

import graft.model.{Aggregation, RuleDefinition, RuleValidator}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Applies one [[RuleDefinition]] to a DataFrame
  * (reference `IQueryableRuleEvaluator.ApplyRule`,
  * `IQueryableRuleEvaluator.cs:11-57`).
  *
  * Pipeline: validate → filter (skipped entirely when the rule has no
  * conditions, `:23-28`) → optional group-by + aggregate (`:36-55`).
  *
  * Scale notes (100 TB design point):
  *  - The predicate is one narrow `filter` over declarative `Column`s —
  *    Catalyst pushes it into the scan and whole-stage-codegens it; no UDFs.
  *  - argmin/argmax uses the custom [[graft.functions.ArgExtremumRow]]
  *    aggregate, which plans as ObjectHashAggregate with map-side partial
  *    aggregation: ONE shuffle of one struct per (partition, group), with
  *    no sort (`min_by`/`max_by` over a struct ordering key would force
  *    SortAggregate, and a window function would shuffle+sort every row).
  */
object RuleEvaluator {

  def apply(df: DataFrame, rule: RuleDefinition,
            params: Map[String, Any] = Map.empty): DataFrame = {
    RuleValidator.validate(df.schema, rule)
    val filtered = rule.conditions match {
      case Some(g) if !g.isEmpty =>
        // No root coalesce: a null predicate drops the row at the filter
        // boundary exactly like false, and leaving the tree bare keeps it
        // parquet-pushable; only Negate needs null-collapsing (see
        // GroupCompiler).
        df.filter(GroupCompiler.compile(df.schema, g, params))
      case _ => df
    }
    rule.aggregation match {
      case None      => filtered
      case Some(agg) => applyAggregate(filtered, rule.groupBy, agg)
    }
  }

  /** The rule's filter as a standalone two-valued Column (never null) — for
    * callers composing rules into their own projections/joins, where SQL
    * null would otherwise leak. [[RuleSetExecutor]] uses the raw variant
    * internally since filter/OR contexts treat null as false already.
    */
  def predicate(df: DataFrame, rule: RuleDefinition,
                params: Map[String, Any] = Map.empty): Column = {
    coalesce(rawPredicate(df, rule, params), lit(false))
  }

  /** Like [[predicate]] but without the null-collapsing wrapper — safe (and
    * pushdown-friendly) wherever the consumer is a filter/OR context in
    * which null behaves as false.
    */
  private[rules] def rawPredicate(df: DataFrame, rule: RuleDefinition,
                                  params: Map[String, Any]): Column = {
    RuleValidator.validate(df.schema, rule)
    rule.conditions match {
      case Some(g) if !g.isEmpty => GroupCompiler.compile(df.schema, g, params)
      case _ => lit(true)
    }
  }

  /** Group-by + aggregate (SURVEY §2.4).
    *
    *  - `Min`/`Max` are ARGMIN/ARGMAX: the whole row whose aggregate property
    *    is smallest/largest per group (`IQueryableRuleEvaluator.cs:66-70`).
    *  - Multi-key grouping and the empty-`GroupBy` grand aggregate follow the
    *    legacy engine (`AggregationEngine.cs:12-25`) — the active engine's
    *    single-key limitation (`IQueryableRuleEvaluator.cs:36-40`) is a
    *    strict subset.
    *  - `Count` follows the legacy engine (`AggregationEngine.cs:45-46`);
    *    the active engine declares it in the IR but throws (`:72-73`).
    *  - Ordering of a string-typed aggregate property is numeric (decimal
    *    cast), the legacy `ConvertToDecimal` semantics
    *    (`AggregationEngine.cs:75-87`): "10" sorts after "9".
    *  - Ties: deterministic full-row tie-break (the whole row participates in
    *    the ordering struct) — the reference's "first in input order" is
    *    meaningless under distributed execution, SURVEY §7.3.3.
    */
  private def applyAggregate(df: DataFrame, groupBy: Seq[String], agg: Aggregation): DataFrame = {
    val keys = groupBy.map(k => col(RuleValidator.resolve(df.schema, k).get))
    agg.aggregateFunction.toLowerCase match {
      case "count" =>
        val c = count(lit(1)).as("count")
        if (keys.isEmpty) df.agg(c) else df.groupBy(keys: _*).agg(c)
      case mm @ ("min" | "max") =>
        val aggName = RuleValidator.resolve(df.schema, agg.aggregateProperty).get
        // string property → numeric ordering via the order-preserving sort
        // key (byte order == try_cast-to-decimal(38,18) order, null iff the
        // cast is null — NumericStringSortKey docs): same ConvertToDecimal
        // semantics as the previous decimal cast, ~3× cheaper inside the
        // interpreted aggregate ordering
        val ord =
          if (df.schema(aggName).dataType == StringType)
            org.apache.spark.sql.graftbridge.ColumnBridge.column(
              graft.functions.NumericStringSortKey(
                org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(aggName))))
          else col(aggName)
        val rowStruct = struct(df.columns.map(col): _*)
        // tie-break on every ORDERABLE column (maps etc. can't participate
        // in an ordering struct; the aggregate property itself must be
        // orderable or the rule is invalid anyway)
        val orderableCols = df.schema.fields
          .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType))
          .map(f => col(f.name))
        val ordStruct = struct((ord.as("__graft_ord") +: orderableCols): _*)
        // custom hash-aggregable argmin/argmax (min_by/max_by with a struct
        // ordering key would force SortAggregate — see ArgExtremumRow docs)
        val a = graft.functions.ArgExtremum.argRow(rowStruct, ordStruct, isMax = mm == "max")
        val agged =
          if (keys.isEmpty) df.agg(a.as("__graft_row"))
          else df.groupBy(keys: _*).agg(a.as("__graft_row"))
        // a grand aggregate over zero input rows yields a null struct —
        // emit no row (reference: no groups -> no output), not an all-null row
        agged.where(col("__graft_row").isNotNull).select("__graft_row.*")
      case other =>
        throw new IllegalArgumentException(s"Unsupported aggregate function '$other'.")
    }
  }
}
