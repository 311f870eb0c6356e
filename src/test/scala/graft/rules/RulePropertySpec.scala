package graft.rules

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.api.RuleService
import graft.model._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Row shape for the differential property test (top-level for encoders).
  * `ns` is a numeric string, `n` is nullable.
  */
case class PRow(id: Int, s: String, ns: String, i: Int, d: Double, b: Boolean, n: String)

/** Property-based differential test: random rule trees evaluated by the
  * Spark engine versus an independent Scala-collections interpreter of the
  * DECLARED semantics (SURVEY §2.2/§2.7) — an executable spec mirroring
  * `IQueryableRuleEvaluator` behavior with the documented divergences.
  */
class RulePropertySpec extends SparkSpec {
  import spark.implicits._

  // --- generators -----------------------------------------------------------

  private val strVals = Seq("alpha", "beta", "Gamma", "", "al", "42")
  private val numStrVals = Seq("1", "9", "10", "250", "-3", "oops", "")

  private val genRow: Gen[PRow] = for {
    id <- Gen.choose(0, 1 << 20)
    s <- Gen.oneOf(strVals)
    ns <- Gen.oneOf(numStrVals)
    i <- Gen.choose(-5, 15)
    d <- Gen.oneOf(-2.5, 0.0, 1.5, 7.25, 100.0)
    b <- Gen.oneOf(true, false)
    n <- Gen.oneOf(null, "", "x", "alpha")
  } yield PRow(id, s, ns, i, d, b, n)

  private val comparisonOps =
    Seq("Equal", "NotEqual", "GreaterThan", "GreaterThanOrEqual", "LessThan", "LessThanOrEqual")
  private val stringOps = Seq("Contains", "NotContains", "StartsWith", "EndsWith")
  private val nullOps =
    Seq("Null", "NotNull", "Empty", "NotEmpty", "NullOrEmpty", "NotNullOrEmpty")

  private def vStr(s: String) = RuleValue.Str(s)

  private val genCond: Gen[Condition] = Gen.oneOf(
    for { // comparisons over every column type
      p <- Gen.oneOf("s", "ns", "i", "d", "n")
      op <- Gen.oneOf(comparisonOps)
      v <- p match {
        case "s" | "n" => Gen.oneOf(strVals).map(vStr)
        case "ns" => Gen.oneOf(
          Gen.oneOf(numStrVals).map(vStr),
          Gen.choose(-5, 260).map(x => RuleValue.Num(BigDecimal(x))))
        case "i" => Gen.choose(-6, 16).map(x => RuleValue.Num(BigDecimal(x)))
        case _ => Gen.oneOf(-2.5, 0.0, 1.5, 7.25, 100.0).map(x => RuleValue.Num(BigDecimal(x)))
      }
    } yield Condition(p, op, v),
    for {
      p <- Gen.oneOf("s", "n")
      op <- Gen.oneOf(stringOps)
      v <- Gen.oneOf("al", "a", "Gam", "ta", "", "z")
    } yield Condition(p, op, vStr(v)),
    for {
      p <- Gen.oneOf("s", "ns", "n", "i")
      op <- Gen.oneOf(nullOps)
    } yield Condition(p, op, RuleValue.Null),
    for {
      p <- Gen.oneOf("s", "n", "ns")
      op <- Gen.oneOf("In", "NotIn")
      vs <- Gen.nonEmptyListOf(Gen.oneOf(strVals ++ numStrVals))
    } yield Condition(p, op, RuleValue.Arr(vs.map(vStr))),
    Gen.oneOf(true, false).map(v => Condition("b", "Equal", RuleValue.Bool(v))),
    for { // regex-count thresholds (string Threshold half the time)
      p <- Gen.oneOf("s", "ns", "n")
      op <- Gen.oneOf("ContainIfCountIsGreater", "ContainIfCountIsLess")
      target <- Gen.oneOf("[0-9]", "[a-z]", "a", "[A-Za-z]")
      th <- Gen.choose(0, 3)
      asStr <- Gen.oneOf(true, false)
    } yield Condition(p, op, RuleValue.Obj(Seq(
      "Target" -> vStr(target),
      "Threshold" -> (if (asStr) vStr(th.toString) else RuleValue.Num(BigDecimal(th)))))),
    for { // MustContain: regex count + case-insensitive required substring
      target <- Gen.oneOf("[0-9]", "[a-z]")
      req <- Gen.oneOf("A", "g", "2")
      th <- Gen.choose(0, 2)
    } yield Condition("s", "MustContainIfCountIsGreater", RuleValue.Obj(Seq(
      "Target" -> vStr(target), "Required" -> vStr(req),
      "Threshold" -> vStr(th.toString)))),
    for { // material implication over two simple sub-conditions
      cp <- Gen.oneOf("i", "b")
      cv <- Gen.choose(-2, 12)
      tp <- Gen.oneOf("d", "s")
      tv <- Gen.oneOf(strVals)
    } yield Condition("s", "If", RuleValue.Obj(Seq(
      "Check" -> RuleValue.Obj(Seq(
        "Property" -> vStr(cp), "Operator" -> vStr(if (cp == "b") "Equal" else "GreaterThan"),
        "Value" -> (if (cp == "b") RuleValue.Bool(cv % 2 == 0) else RuleValue.Num(BigDecimal(cv))))),
      "Then" -> RuleValue.Obj(Seq(
        "Property" -> vStr(tp), "Operator" -> vStr("Equal"),
        "Value" -> (if (tp == "d") RuleValue.Num(BigDecimal(1.5)) else vStr(tv))))))),
    for { // Dynamic family against the fixed external params
      p <- Gen.oneOf("s", "ns", "i")
      op <- Gen.oneOf("DynamicEqual", "DynamicNullOrEmpty", "DynamicNotNullOrEmpty",
        "DynamicEmpty", "DynamicNotEmpty")
    } yield Condition(p, op, RuleValue.Null))

  private def genGroup(depth: Int): Gen[ConditionGroup] = for {
    logic <- Gen.oneOf("AND", "OR")
    negate <- Gen.oneOf(true, false, false)
    nConds <- Gen.choose(0, 3)
    conds <- Gen.listOfN(nConds, genCond)
    nSub <- if (depth <= 0) Gen.const(0) else Gen.choose(0, 2)
    subs <- Gen.listOfN(nSub, genGroup(depth - 1))
  } yield ConditionGroup(logic, negate, conds, subs)

  /** Fixed external params, mirrored between engine call and interpreter. */
  private val extParams: Map[String, Any] = Map("s" -> "Gamma", "ns" -> "10", "i" -> 5)

  // --- the independent interpreter (two-valued .NET-style logic) ------------

  private def parseDec(s: String): Option[BigDecimal] =
    try { if (s == null) None else Some(BigDecimal(s.trim)) }
    catch { case _: Throwable => None }

  private def colVal(r: PRow, p: String): Any = p match {
    case "s" => r.s; case "ns" => r.ns; case "i" => r.i
    case "d" => r.d; case "b" => r.b; case "n" => r.n
  }

  private def coerce(v: RuleValue, p: String): Any = (v, p) match {
    case (RuleValue.Str(s), "s" | "n" | "ns") => s
    case (RuleValue.Num(x), "s" | "n" | "ns") => x.underlying.stripTrailingZeros.toPlainString
    case (RuleValue.Str(s), "i") => parseDec(s).map(_.toInt).orNull
    case (RuleValue.Num(x), "i") => x.toInt
    case (RuleValue.Str(s), "d") => parseDec(s).map(_.toDouble).orNull
    case (RuleValue.Num(x), "d") => x.toDouble
    case (RuleValue.Bool(x), "b") => x
    case (RuleValue.Null, _) => null
    case (other, _) => throw new IllegalArgumentException(s"$other/$p")
  }

  private def interpretCond(r: PRow, c: Condition): Boolean = {
    val cv = colVal(r, c.property)
    def str = cv.asInstanceOf[String]
    c.operator match {
      case "Equal" => cv == coerce(c.value, c.property)
      case "NotEqual" => cv != coerce(c.value, c.property)
      case op @ ("GreaterThan" | "GreaterThanOrEqual" | "LessThan" | "LessThanOrEqual") =>
        val cmp: Option[Int] = c.property match {
          case "s" | "n" | "ns" => // numeric lift, unparseable/null -> no result
            for {
              l <- parseDec(str)
              rv <- c.value match {
                case RuleValue.Str(x) => parseDec(x)
                case RuleValue.Num(x) => Some(x)
                case _ => None
              }
            } yield l.compare(rv)
          case "i" => coerce(c.value, "i") match {
            case null => None
            case x: Int => Some(r.i.compare(x))
          }
          case "d" => coerce(c.value, "d") match {
            case null => None
            case x: Double => Some(r.d.compare(x))
          }
          case _ => None
        }
        cmp.exists(x => op match {
          case "GreaterThan" => x > 0
          case "GreaterThanOrEqual" => x >= 0
          case "LessThan" => x < 0
          case "LessThanOrEqual" => x <= 0
        })
      case "In" => c.value match {
        case RuleValue.Arr(xs) => xs.exists(x => cv == coerce(x, c.property))
        case _ => false
      }
      case "NotIn" => c.value match {
        case RuleValue.Arr(xs) => !xs.exists(x => cv == coerce(x, c.property))
        case _ => false
      }
      case "Contains" => str != null && str.contains(coerce(c.value, "s").asInstanceOf[String])
      case "NotContains" => str != null && !str.contains(coerce(c.value, "s").asInstanceOf[String])
      case "StartsWith" => str != null && str.startsWith(coerce(c.value, "s").asInstanceOf[String])
      case "EndsWith" => str != null && str.endsWith(coerce(c.value, "s").asInstanceOf[String])
      case "Null" => cv == null
      case "NotNull" => cv != null
      case "Empty" => c.property match {
        case "s" | "n" | "ns" => str == null || str.isEmpty
        case _ => cv == null
      }
      case "NotEmpty" => c.property match {
        case "s" | "n" | "ns" => str != null && str.nonEmpty
        case _ => cv != null
      }
      case "NullOrEmpty" => c.property match {
        case "s" | "n" | "ns" => str == null || str.isEmpty
        case _ => cv == null
      }
      case "NotNullOrEmpty" => c.property match {
        case "s" | "n" | "ns" => str != null && str.nonEmpty
        case _ => cv != null
      }

      case op @ ("ContainIfCountIsGreater" | "ContainIfCountIsLess" |
                 "MustContainIfCountIsGreater") =>
        val o = c.value.asInstanceOf[RuleValue.Obj]
        def s(k: String) = o.get(k).collect {
          case RuleValue.Str(x) => x
          case RuleValue.Num(x) => x.underlying.stripTrailingZeros.toPlainString
        }
        val target = s("Target").get
        val th = s("Threshold").map(_.trim.toInt).getOrElse(0)
        if (str == null) false
        else {
          val m = java.util.regex.Pattern.compile(target).matcher(str)
          var count = 0
          while (m.find()) count += 1
          op match {
            case "ContainIfCountIsGreater" => count > th
            case "ContainIfCountIsLess" => count < th
            case _ =>
              count > th && str.toLowerCase.contains(s("Required").get.toLowerCase)
          }
        }

      case "If" =>
        val o = c.value.asInstanceOf[RuleValue.Obj]
        def inner(k: String): Condition = {
          val io = o.get(k).get.asInstanceOf[RuleValue.Obj]
          Condition(
            io.get("Property").collect { case RuleValue.Str(x) => x }.get,
            io.get("Operator").collect { case RuleValue.Str(x) => x }.get,
            io.get("Value").getOrElse(RuleValue.Null))
        }
        if (interpretCond(r, inner("Check"))) interpretCond(r, inner("Then")) else true

      case "DynamicEqual" =>
        val pv = extParams(c.property)
        val rv = pv match {
          case x: String => RuleValue.Str(x)
          case x: Int => RuleValue.Num(BigDecimal(x))
          case _ => RuleValue.Null
        }
        cv == coerce(rv, c.property)
      case "DynamicNullOrEmpty" => extParams(c.property) match {
        case s: String => s.trim.isEmpty
        case null => true
        case _ => false
      }
      case "DynamicNotNullOrEmpty" => extParams(c.property) match {
        case s: String => s.trim.nonEmpty
        case null => false
        case _ => true
      }
      case "DynamicNotEmpty" => extParams(c.property) match {
        case s: String => s.nonEmpty
        case null => false
        case _ => true
      }
      case "DynamicEmpty" => extParams(c.property) match {
        case s: String => s.isEmpty
        case null => true
        case _ => false
      }
    }
  }

  private def interpretGroup(r: PRow, g: ConditionGroup): Boolean = {
    val children = g.conditions.map(interpretCond(r, _)) ++ g.groups.map(interpretGroup(r, _))
    val body =
      if (children.isEmpty) true
      else if (g.logicalOperator.equalsIgnoreCase("OR")) children.reduce(_ || _)
      else children.reduce(_ && _)
    if (g.negate) !body else body
  }

  test("random rule trees: Spark engine == independent interpreter") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, genRow), genGroup(2)) { (rows, group) =>
      val rule = RuleDefinition(name = "prop", conditions = Some(group))
      val df = rows.toDF()
      val got = RuleEvaluator(df, rule, extParams).select("id").as[Int].collect().sorted.toSeq
      val want = rows.filter(interpretGroup(_, group)).map(_.id).sorted
      if (got != want) {
        println(s"MISMATCH group=$group\n got=$got\n want=$want")
      }
      got == want
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40).withWorkers(1), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  // --- aggregation path: argmin/argmax/count vs interpreter -----------------

  /** Interpreter for the aggregate stage (declared semantics: numeric-string
    * ordering via decimal, unparseable→null sorts first asc/never wins desc,
    * full-row tie-break).
    */
  private def interpretAgg(rows: Seq[PRow], groupBy: Seq[String],
                           aggProp: String, fn: String): Seq[PRow] = {
    def ordKey(r: PRow): Option[BigDecimal] = aggProp match {
      case "ns" => parseDec(r.ns)
      case "i" => Some(BigDecimal(r.i))
      case "d" => Some(BigDecimal(r.d))
    }
    // null ordering key sorts FIRST ascending (Spark/C# default-comparer match)
    implicit val optOrd: Ordering[Option[BigDecimal]] =
      Ordering.Option(Ordering[BigDecimal])
    val rowOrd = Ordering.by((r: PRow) =>
      (ordKey(r), r.id, r.s, r.ns, r.i, r.d, r.b, Option(r.n)))
    rows.groupBy(r => groupBy.map(colVal(r, _))).values.map { grp =>
      fn match {
        case "Min" => grp.min(rowOrd)
        case "Max" => grp.max(rowOrd)
      }
    }.toSeq
  }

  // --- multi-rule path: fused executeAll vs union-distinct interpreter ------

  test("random rule SETS: fused executeAll == union-distinct interpreter") {
    val genRules = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genGroup(1)))
      .map(_.zipWithIndex.map { case (g, i) =>
        RuleDefinition(name = s"r$i", conditions = Some(g))
      })
    val withAgg = Gen.oneOf(true, false)
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, genRow), genRules, withAgg) {
      (rows0, filterRules, addAgg) =>
        // unique ids: full-row distinct == id distinct, and the argmin
        // tie-break matches the interpreter's id ordering
        val rows = rows0.zipWithIndex.map { case (r, i) => r.copy(id = i) }
        val aggRule = RuleDefinition(name = "agg", conditions = None,
          groupBy = Seq("b"), aggregation = Some(Aggregation("i", "Min")))
        val rules = if (addAgg) filterRules :+ aggRule else filterRules
        val got = RuleSetExecutor.executeAll(rows.toDF(), rules, extParams)
          .select("id").as[Int].collect().sorted.toSeq
        val wantFilter = rows.filter(r =>
          filterRules.exists(rule => interpretGroup(r, rule.conditions.get)))
        val wantAgg = if (addAgg) interpretAgg(rows, Seq("b"), "i", "Min") else Nil
        val want = (wantFilter ++ wantAgg).map(_.id).distinct.sorted
        if (got != want) println(s"SET MISMATCH rules=$rules\n got=$got\n want=$want")
        got == want
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30).withWorkers(1), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  test("random groupBy + argmin/argmax: Spark engine == interpreter") {
    val genAgg = for {
      keys <- Gen.someOf(Seq("s", "b", "i")).map(_.toSeq)
      prop <- Gen.oneOf("ns", "i", "d")
      fn <- Gen.oneOf("Min", "Max")
    } yield (keys, prop, fn)
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, genRow), genAgg) {
      case (rows0, (keys, aggProp, fn)) =>
        // unique ids so full-row tie-break == id tie-break in the interpreter
        val rows = rows0.zipWithIndex.map { case (r, i) => r.copy(id = i) }
        val rule = RuleDefinition(name = "agg", conditions = None,
          groupBy = keys, aggregation = Some(Aggregation(aggProp, fn)))
        val got = RuleEvaluator(rows.toDF(), rule)
          .select("id").as[Int].collect().sorted.toSeq
        val want = interpretAgg(rows, keys, aggProp, fn).map(_.id).sorted
        if (got != want) println(s"AGG MISMATCH keys=$keys prop=$aggProp fn=$fn\n got=$got\n want=$want")
        got == want
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30).withWorkers(1), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  // --- serving path: RuleService.evaluateToJson from JSON text --------------

  private val mapper = new ObjectMapper()

  /** Sends `rule` over the request body `text` through the serving path, and
    * through `spark.read.json` + [[RuleEvaluator]] + `toJSON`. Each side's rows
    * form a multiset of compact JSON rows; a rule both sides reject must fail
    * with the same exception class on each.
    */
  private def servedLikeRead(text: String, rule: RuleDefinition): Boolean = {
    def canon(rows: Iterator[String]) = rows.map(mapper.readTree(_).toString).toSeq.sorted
    val served = Try(canon(mapper.readTree(
      RuleService.evaluateToJson(spark, text, RuleJson.write(rule), extParams))
      .elements().asScala.map(_.toString)))
    val read = Try(canon(
      RuleEvaluator(spark.read.json(Seq(text).toDS()), rule, extParams).toJSON.collect().iterator))
    val same = (served, read) match {
      case (Success(a), Success(b)) => a == b
      case (Failure(a), Failure(b)) => a.getClass == b.getClass
      case _ => false
    }
    if (!same) println(s"SERVING MISMATCH rule=$rule\n served=$served\n read=$read")
    same
  }

  private def requestBody(rows: Seq[PRow]): String = rows.toDF().toJSON.collect().mkString("[", ",", "]")

  test("serving path: random rule trees through evaluateToJson == spark.read.json + RuleEvaluator") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, genRow), genGroup(2)) { (rows, group) =>
      servedLikeRead(requestBody(rows), RuleDefinition(name = "prop", conditions = Some(group)))
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40).withWorkers(1), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  test("serving path: random filter + groupBy + argmin/argmax/count == spark.read.json + RuleEvaluator") {
    val genRule = for {
      group <- Gen.option(genGroup(1))
      keys <- Gen.someOf(Seq("s", "b", "i")).map(_.toSeq)
      prop <- Gen.oneOf("ns", "i", "d")
      fn <- Gen.oneOf("Min", "Max", "Count")
    } yield RuleDefinition(name = "agg", conditions = group, groupBy = keys,
      aggregation = Some(Aggregation(prop, fn)))
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, genRow), genRule) { (rows0, rule) =>
      servedLikeRead(requestBody(rows0.zipWithIndex.map { case (r, i) => r.copy(id = i) }), rule)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30).withWorkers(1), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  test("serving path: a grand aggregate over zero rows emits no row, and ties break on the full row") {
    val text = """[{"g":"x","v":5,"a":"b"},{"g":"x","v":5,"a":"c"},{"g":"x","v":1,"a":"z"},
                  {"g":"x","v":1,"a":"y"},{"g":"w","v":2,"a":"q"}]"""
    val noRows = Some(ConditionGroup(conditions = Seq(Condition("a", "Equal", RuleValue.Str("none")))))
    Seq("Min", "Max").foreach { fn =>
      val rule = RuleDefinition(conditions = noRows, aggregation = Some(Aggregation("v", fn)))
      assert(RuleService.evaluateToJson(spark, text, RuleJson.write(rule)) == "[]", fn)
      assert(servedLikeRead(text, rule), fn)
    }
    // the ordering key is (v, a, g, v): equal v values fall to the other columns
    def winners(fn: String): Seq[String] = {
      val rule = RuleDefinition(groupBy = Seq("g"), aggregation = Some(Aggregation("v", fn)))
      assert(servedLikeRead(text, rule), fn)
      mapper.readTree(RuleService.evaluateToJson(spark, text, RuleJson.write(rule)))
        .elements().asScala.map(_.get("a").asText).toSeq.sorted
    }
    assert(winners("Max") == Seq("c", "q"))
    assert(winners("Min") == Seq("q", "y"))
  }
}
