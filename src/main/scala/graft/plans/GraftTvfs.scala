package graft.plans

import graft.operators.{Dedup, Profile, TextStats}
import graft.plans.EvaluateRuleTvf.{activeSession, plan, stringLit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

/** The EXTENSION-TIER pipeline operators as table-valued functions — the
  * [[EvaluateRuleTvf]] machinery pointed at the LLM-data-pipeline
  * surface, so SQL-only users reach drift monitoring, near-dup pair
  * generation, and quality filtering without touching the Scala API:
  *
  * {{{
  * SELECT * FROM graft_drift('old_crawl', 'new_crawl', 'source')
  * SELECT * FROM graft_dedup_pairs('docs', 'doc_id', 'text', 'simhash')
  * SELECT * FROM graft_dedup_pairs('docs', 'doc_id', 'text', 'minhash')
  * SELECT * FROM graft_quality('docs', 'doc_id', 'text')
  * }}}
  *
  * Same contract as `evaluate_rule`: the builder resolves named tables
  * through the active session at analysis time and splices the
  * operator's own logical plan into the outer query — SQL users get
  * exactly the library's semantics and exactly the plans the DataFrame
  * API produces (pushdown, codegen, AQE, the broadcast-probe shapes),
  * because it IS the same plan.
  */
object GraftTvfs {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** `graft_drift(tableA, tableB, categoryCol)` →
    * [[Profile.categoricalDrift]] of the two named tables over the named
    * category column (counts, exact ppm shares, abs delta).
    */
  val graftDrift: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 3,
      "usage: graft_drift('<tableA>', '<tableB>', '<category column>')")
    val spark = activeSession
    plan(Profile.categoricalDrift(
      spark.table(stringLit(args.head, "tableA")),
      spark.table(stringLit(args(1), "tableB")),
      col(stringLit(args(2), "category column"))))
  }

  /** `graft_dedup_pairs(table, idCol, textCol, method[, param])` →
    * near-duplicate pair table. Methods: `'simhash'` (param =
    * maxDistance, default 3 — Hamming over 64-bit token simhash,
    * pigeonhole join) and `'minhash'` (param = threshold percent,
    * default 70 — banded MinHash-LSH with verified Jaccard ≥ p/100).
    */
  val graftDedupPairs: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 4 || args.length == 5,
      "usage: graft_dedup_pairs('<table>', '<id col>', '<text col>', " +
        "'simhash'|'minhash'[, <int param>])")
    val spark = activeSession
    val df = spark.table(stringLit(args.head, "table name"))
    val id = stringLit(args(1), "id column")
    val text = stringLit(args(2), "text column")
    stringLit(args(3), "method") match {
      case "simhash" =>
        val d = if (args.length > 4) intLit(args(4), "maxDistance") else 3
        plan(Dedup.simhashPairs(df, id, text, maxDistance = d))
      case "minhash" =>
        val pct = if (args.length > 4) intLit(args(4), "threshold percent") else 70
        require(pct >= 1 && pct <= 100,
          "graft_dedup_pairs: threshold percent in [1, 100]")
        plan(Dedup.minhashPairs(df, id, text, threshold = pct / 100.0))
      case other => throw new IllegalArgumentException(
        s"graft_dedup_pairs: unknown method '$other' (simhash | minhash)")
    }
  }

  /** `graft_quality(table, idCol, textCol)` →
    * [[TextStats.qualityRuleSignals]] with the default Gopher/C4-style
    * thresholds: per-document signals + the keep decision.
    */
  val graftQuality: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 3,
      "usage: graft_quality('<table>', '<id col>', '<text col>')")
    val spark = activeSession
    plan(TextStats.qualityRuleSignals(
      spark.table(stringLit(args.head, "table name")),
      stringLit(args(1), "id column"), stringLit(args(2), "text column")))
  }

  /** `graft_overlap(tableA, tableB, keyCol[, k])` → [[Profile.kmvOverlap]]
    * of the two named tables' key sets (union_k, matches, jaccard_ppm,
    * est_union, est_intersection) — "how much does B overlap A" for SQL
    * users, at the cost of two sketch builds. k defaults to 1024
    * (≈3% relative error).
    */
  val graftOverlap: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 3 || args.length == 4,
      "usage: graft_overlap('<tableA>', '<tableB>', '<key col>'[, <k>])")
    val spark = activeSession
    val key = stringLit(args(2), "key column")
    val k = if (args.length > 3) intLit(args(3), "k") else 1024
    plan(Profile.kmvOverlap(
      Profile.kmvSketch(spark.table(stringLit(args.head, "tableA")),
        col(key), k),
      Profile.kmvSketch(spark.table(stringLit(args(1), "tableB")),
        col(key), k), k))
  }

  /** `graft_distinct(table, keyCol, sliceCol[, k])` → per-slice KMV
    * distinct-count estimates (n_kept, est_distinct) — exact below k.
    */
  val graftDistinct: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 3 || args.length == 4,
      "usage: graft_distinct('<table>', '<key col>', '<slice col>'[, <k>])")
    val spark = activeSession
    val slice = stringLit(args(2), "slice column")
    val k = if (args.length > 3) intLit(args(3), "k") else 1024
    plan(Profile.kmvDistinct(
      Profile.kmvSketch(spark.table(stringLit(args.head, "table name")),
        col(stringLit(args(1), "key column")), k, Seq(slice)),
      k, Seq(slice)))
  }

  /** `graft_difference(tableA, tableB, keyCol[, k])` →
    * [[Profile.kmvDifference]] of the two named tables' key sets
    * (union_k, matches, only_a, only_b, est_union, est_a_minus_b,
    * est_b_minus_a) — "how much of A is NOT in B" for SQL users.
    */
  val graftDifference: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 3 || args.length == 4,
      "usage: graft_difference('<tableA>', '<tableB>', '<key col>'[, <k>])")
    val spark = activeSession
    val key = stringLit(args(2), "key column")
    val k = if (args.length > 3) intLit(args(3), "k") else 1024
    plan(Profile.kmvDifference(
      Profile.kmvSketch(spark.table(stringLit(args.head, "tableA")),
        col(key), k),
      Profile.kmvSketch(spark.table(stringLit(args(1), "tableB")),
        col(key), k), k))
  }

  /** `graft_woverlap(tableA, tableB, keyCol, weightCol[, k])` →
    * [[Profile.kmvWeightedJaccard]] of the two named tables' weighted
    * key sets (union_k, matches, w_min_sum, w_max_sum, wjaccard_ppm,
    * est_union, est_w_min, est_w_max) — "how similar are A and B by
    * MASS (bytes, tokens), not by member count" for SQL users. k
    * defaults to 1024; below k the ppm is exact.
    */
  val graftWoverlap: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 4 || args.length == 5,
      "usage: graft_woverlap('<tableA>', '<tableB>', '<key col>', " +
        "'<weight col>'[, <k>])")
    val spark = activeSession
    val key = stringLit(args(2), "key column")
    val w = stringLit(args(3), "weight column")
    val k = if (args.length > 4) intLit(args(4), "k") else 1024
    plan(Profile.kmvWeightedJaccard(
      Profile.kmvSketchWeighted(spark.table(stringLit(args.head, "tableA")),
        col(key), col(w), k),
      Profile.kmvSketchWeighted(spark.table(stringLit(args(1), "tableB")),
        col(key), col(w), k), k))
  }

  /** `graft_knn_label(queriesTable, seedsTable, idCol, vecCol, labelCol
    * [, k])` → [[graft.operators.Similarity.labelPropagate]]: each query
    * row's majority label over its k highest-inner-product labeled seeds
    * (exact quantized-integer dots — bit-reproducible votes). k defaults
    * to 5. The query table must stay inside the broadcast guard.
    */
  val graftKnnLabel: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 5 || args.length == 6,
      "usage: graft_knn_label('<queries table>', '<seeds table>', " +
        "'<id col>', '<vector col>', '<label col>'[, <k>])")
    val spark = activeSession
    val k = if (args.length > 5) intLit(args(5), "k") else 5
    plan(graft.operators.Similarity.labelPropagate(
      spark.table(stringLit(args.head, "queries table")),
      spark.table(stringLit(args(1), "seeds table")),
      stringLit(args(2), "id column"), stringLit(args(3), "vector column"),
      stringLit(args(4), "label column"), k))
  }

  /** `graft_quantiles(table, valueCol, groupCol[, 'exact'|'approx'])` →
    * [[Profile.groupQuantiles]] at the dashboard probes (p25/p50/p75).
    * `'exact'` (the default) is oracle-reproducible; `'approx'` is the
    * t-digest path for corpus-scale columns.
    */
  val graftQuantiles: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 3 || args.length == 4,
      "usage: graft_quantiles('<table>', '<value col>', '<group col>'" +
        "[, 'exact'|'approx'])")
    val spark = activeSession
    val mode =
      if (args.length > 3) stringLit(args(3), "mode") else "exact"
    require(mode == "exact" || mode == "approx",
      s"graft_quantiles: unknown mode '$mode' (exact | approx)")
    plan(Profile.groupQuantiles(
      spark.table(stringLit(args.head, "table name")),
      Seq(stringLit(args(2), "group column")),
      stringLit(args(1), "value column"),
      probs = Seq(0.25, 0.5, 0.75), exact = mode == "exact"))
  }

  /** `graft_asof(leftTable, rightTable, keyCol, leftTsCol, rightTsCol
    * [, direction])` → [[graft.operators.Joins.asOf]]: each left row gets
    * the keyed right row nearest in time (backward = latest ≤, the
    * default; forward = earliest ≥; nearest). Spark SQL has no ASOF
    * join — this TVF is the SQL user's route to the union-sort plan
    * (one shuffle, no range join).
    */
  val graftAsof: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 5 || args.length == 6,
      "usage: graft_asof('<left table>', '<right table>', '<key col>', " +
        "'<left ts col>', '<right ts col>'[, 'backward'|'forward'|'nearest'])")
    val spark = activeSession
    val dir = if (args.length > 5) stringLit(args(5), "direction")
      else "backward"
    plan(graft.operators.Joins.asOf(
      spark.table(stringLit(args.head, "left table")),
      spark.table(stringLit(args(1), "right table")),
      keys = Seq(stringLit(args(2), "key column")),
      leftTs = stringLit(args(3), "left ts column"),
      rightTs = stringLit(args(4), "right ts column"),
      direction = dir))
  }

  /** `graft_sessionize(table, gapMinutes)` →
    * [[graft.streaming.EventStreams.sessionizeBatch]]: gap-based
    * sessions per user (user_id/session_start/session_end/n_events) —
    * the lag + running-sum plan, one shuffle per user key.
    */
  val graftSessionize: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 2,
      "usage: graft_sessionize('<events table>', <gap minutes>)")
    val spark = activeSession
    plan(graft.streaming.EventStreams.sessionizeBatch(
      spark.table(stringLit(args.head, "events table")),
      intLit(args(1), "gap minutes")))
  }

  /** `graft_drift_embed(tableA, tableB, vecCol, sliceCol)` →
    * [[Profile.embeddingDrift]]: per-slice quantized-centroid shift
    * between the two named tables' embedding columns (n_a, n_b,
    * cos2_ppm, cos_sign, dist2) — the drift family's vector member for
    * SQL users.
    */
  val graftDriftEmbed: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 4,
      "usage: graft_drift_embed('<tableA>', '<tableB>', '<vector col>', " +
        "'<slice col>')")
    val spark = activeSession
    plan(Profile.embeddingDrift(
      spark.table(stringLit(args.head, "tableA")),
      spark.table(stringLit(args(1), "tableB")),
      col(stringLit(args(2), "vector column")),
      Seq(stringLit(args(3), "slice column"))))
  }

  val all: Map[String, Seq[Expression] => LogicalPlan] = Map(
    "graft_drift" -> graftDrift,
    "graft_dedup_pairs" -> graftDedupPairs,
    "graft_quality" -> graftQuality,
    "graft_overlap" -> graftOverlap,
    "graft_distinct" -> graftDistinct,
    "graft_difference" -> graftDifference,
    "graft_woverlap" -> graftWoverlap,
    "graft_knn_label" -> graftKnnLabel,
    "graft_quantiles" -> graftQuantiles,
    "graft_asof" -> graftAsof,
    "graft_sessionize" -> graftSessionize,
    "graft_drift_embed" -> graftDriftEmbed)

  /** Session-local runtime registration (invoked by
    * `GraftFunctions.register` alongside [[EvaluateRuleTvf]]).
    */
  def register(spark: SparkSession): Unit = EvaluateRuleTvf.registerAll(spark, all)
}
