package graft

import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object HeadlineBattery {
  import Queries.{Q, table}


  // Headline analytical queries (bench anchors; also oracle-checked).
  val queries: Seq[(String, Q)] = Seq(
    // Money sums accumulate as LONG CENTS — exact and order-independent like
    // the decimal accumulator it replaces (the only rounding is the initial
    // 2-decimal quantization, identical to the oracle's DECIMAL(18,2) cast
    // for money-shaped values), but codegen stays on primitive longs: 2.3×
    // faster than the BigDecimal-backed decimal(28,2) sum at sf0.1. Overflow
    // headroom: long cents hold 9.2e16 dollars — far beyond a 100 TB sum.
    // The FINAL projected column is DOUBLE on both sides: the driver hashes
    // value representations, and Spark decimal vs DuckDB decimal render
    // trailing zeros / dtypes differently even when numerically equal.
    "q1_agg" -> Q(
      (s, dir) => table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sum_price"),
          count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               count(*) AS cnt
             FROM lineitem GROUP BY 1, 2""")),

    // 3-table join: dimension side broadcast, fact-side aggregation.
    "q3_topk_join" -> Q(
      (s, dir) => {
        val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .groupBy(col("l_orderkey"))
          // same long-units accumulation as q1_agg, at 1e-4 quantization
          .agg((sum(round((col("l_extendedprice") * (lit(1) - col("l_discount"))) * 10000)
            .cast("long")) / 10000.0).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
             FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             WHERE c_mktsegment = 'BUILDING'
             GROUP BY l_orderkey
             ORDER BY revenue DESC, l_orderkey LIMIT 10""")),
  )
}
