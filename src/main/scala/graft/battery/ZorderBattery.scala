package graft

import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object ZorderBattery {
  import Queries.{Q, table, events}


  // the Morton interleave recomputed in SQL: bit i of dimension d lands
  // at position i*D + d (D = 2 here), matching Lake.zOrderValue's term
  // generation exactly
  private val zInterleaveSql: String =
    (0 until 8).flatMap(i => Seq(
      s"(((b0 >> $i) & 1) << ${2 * i})",
      s"(((b1 >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  val queries: Seq[(String, Q)] = Seq(
    // Z-ORDER (Morton) SORT KEY, driver-gated (was spec-only — LakeSpec
    // pinned file-footer pruning, q_zorder_scan gates the layout's
    // content; this row puts the interleave ARITHMETIC itself under the
    // oracle hash): equal-width 8-bit buckets over
    // (o_custkey, o_totalprice), bits interleaved. Both engines run the
    // identical IEEE-double sequence — cast-after-min/max, (hi-lo)/256
    // width, floor, clamp — so bucket boundaries agree bit-for-bit, and
    // the oracle rebuilds the interleave from shift/mask terms.
    "q_zorder_value" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        o.select(col("o_orderkey"),
          graft.operators.Lake.zOrderValue(
            o, Seq("o_custkey", "o_totalprice"), bitsPerDim = 8).as("z"))
      },
      Some(s"""
        WITH st AS (SELECT
            CAST(min(o_custkey) AS DOUBLE) AS lo0, CAST(max(o_custkey) AS DOUBLE) AS hi0,
            CAST(min(o_totalprice) AS DOUBLE) AS lo1, CAST(max(o_totalprice) AS DOUBLE) AS hi1
          FROM orders),
        b AS (SELECT o_orderkey,
            least(greatest(CAST(floor((CAST(o_custkey AS DOUBLE) - lo0)
              / ((hi0 - lo0) / 256)) AS BIGINT), 0), 255) AS b0,
            least(greatest(CAST(floor((CAST(o_totalprice AS DOUBLE) - lo1)
              / ((hi1 - lo1) / 256)) AS BIGINT), 0), 255) AS b1
          FROM orders CROSS JOIN st)
        SELECT o_orderkey, CAST($zInterleaveSql AS BIGINT) AS z FROM b""")),

    // Z-ORDERED layout scan: the events table laid out on the Morton
    // interleave of (user_id, cents) — written once per JVM (the nightly
    // layout job), then a two-dimensional range predicate + aggregate
    // over the z-ordered files must equal the same query on the raw
    // table. The layout's PRUNING property (every z dimension's min/max
    // footer span narrow in every file) is spec-pinned in LakeSpec; this
    // row makes the layout's correctness driver-visible.
    "q_zorder_scan" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .select("event_id", "user_id", "cents")
        graft.operators.Lake.ensureZOrdered(ev, s"$dir/events!zorder",
            Seq("user_id", "cents"))
          .filter(col("user_id").between(40, 90) &&
            col("cents").between(10000L, 30000L))
          .groupBy("user_id")
          .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
      },
      Some("""
        SELECT user_id, count(*) AS cnt,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events
        WHERE user_id BETWEEN 40 AND 90
          AND CAST(round(value * 100) AS BIGINT) BETWEEN 10000 AND 30000
        GROUP BY 1""")),
  )
}
