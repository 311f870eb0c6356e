package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object EventBattery {
  import Queries.{Q, table, events}
  import BatteryUtil._

  // The parts-co-ordered-together graph of the graph rows: one edge per
  // unordered part pair sharing an order.
  private def partEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val lp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("s"), col("y.p").as("d"))
  }

  // Each purchase's as-of click of the same user in `direction` within
  // 30 minutes.
  private def toleranceAsOf(s: org.apache.spark.sql.SparkSession, dir: String,
                            direction: String) = {
    val ev = events(s, dir)
    graft.operators.Joins.asOf(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      direction = direction, tolerance = Some(1800.0))
  }

  // The tolerance as-of oracle: the first click by `orderBy` among the
  // user's clicks satisfying `cond`, or NULLs.
  private def toleranceAsOfOracle(orderBy: String, cond: String) = Some(s"""
        WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        c AS (SELECT * FROM events WHERE event_type = 'click'),
        j AS (SELECT p.event_id AS pid, c.event_id AS r_event_id, c.ts AS r_ts,
                c.event_type AS r_event_type, c.value AS r_value, c.props AS r_props,
                row_number() OVER (PARTITION BY p.event_id
                  ORDER BY $orderBy) AS rn
              FROM p JOIN c ON p.user_id = c.user_id
               AND $cond)
        SELECT p.user_id, p.event_id, p.ts, p.event_type, p.value, p.props,
               j.r_event_id, j.r_ts, j.r_event_type, j.r_value, j.r_props
        FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.event_id = j.pid""")

  private val partEdgesCtes =
    """lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (SELECT DISTINCT x.p AS a, y.p AS b
              FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p)"""


  val queries: Seq[(String, Q)] = Seq(
    // AS-OF join: each purchase gets the user's latest prior click.
    "q_asof_join" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        graft.operators.Joins.asOf(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts")
      },
      asofOracle),

    // CHANGELOG → CURRENT STATE (CDC last-write-wins merge): events as a
    // per-user upsert log versioned by (ts, event_id); a user whose
    // LATEST event is an 'error' is a tombstone and drops entirely —
    // older rows must not resurface. One ObjectHashAggregate argmax (no
    // per-key sort; a million-update hot key still reduces map-side).
    "q_cdc_snapshot" -> Q(
      (s, dir) => graft.operators.Lake.latestSnapshot(
          events(s, dir)
            .withColumn("cents", round(col("value") * 100).cast("long"))
            .select("event_id", "user_id", "event_type", "cents", "ts"),
          Seq("user_id"), Seq(col("ts"), col("event_id")),
          isDelete = col("event_type") === "error")
        .select("event_id", "user_id", "event_type", "cents"),
      Some("""
        WITH c AS (SELECT event_id, user_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents, ts FROM events),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM c)
        SELECT event_id, user_id, event_type, cents FROM r
        WHERE rn = 1 AND event_type <> 'error'""")),

    // SNAPSHOT DIFF (the inverse of the CDC merge): the changelog that
    // turns yesterday's partial-state snapshot into today's — one
    // null-safe full-outer join, struct compare, op in
    // {insert, update, delete}. Old = the LWW state of a filtered log
    // slice, new = of the full log, both via latestSnapshot semantics.
    "q_snapshot_diff" -> Q(
      (s, dir) => {
        val base = events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .select("event_id", "user_id", "event_type", "cents", "ts")
        def snap(log: org.apache.spark.sql.DataFrame) =
          graft.operators.Lake.latestSnapshot(log, Seq("user_id"),
              Seq(col("ts"), col("event_id")),
              isDelete = col("event_type") === "error")
            .select("user_id", "event_type", "cents", "event_id")
        graft.operators.Lake.diffSnapshots(
          snap(base.filter(col("event_id") % 4 =!= 0 &&
            col("user_id") % 11 =!= 0)),
          snap(base), Seq("user_id"))
      },
      Some("""
        WITH c AS (SELECT event_id, user_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents, ts FROM events),
        snew AS (SELECT user_id, event_type, cents, event_id FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn FROM c) r
          WHERE rn = 1 AND event_type <> 'error'),
        sold AS (SELECT user_id, event_type, cents, event_id FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn FROM c
            WHERE event_id % 4 <> 0 AND user_id % 11 <> 0) r
          WHERE rn = 1 AND event_type <> 'error')
        SELECT * FROM (
          SELECT COALESCE(n.user_id, o.user_id) AS user_id,
            CASE WHEN o.user_id IS NULL THEN 'insert'
                 WHEN n.user_id IS NULL THEN 'delete'
                 WHEN NOT (o.event_type IS NOT DISTINCT FROM n.event_type
                       AND o.cents IS NOT DISTINCT FROM n.cents
                       AND o.event_id IS NOT DISTINCT FROM n.event_id)
                   THEN 'update' END AS op,
            CASE WHEN n.user_id IS NULL THEN o.event_type
                 ELSE n.event_type END AS event_type,
            CASE WHEN n.user_id IS NULL THEN o.cents ELSE n.cents END AS cents,
            CASE WHEN n.user_id IS NULL THEN o.event_id
                 ELSE n.event_id END AS event_id
          FROM sold o FULL OUTER JOIN snew n ON o.user_id = n.user_id) d
        WHERE op IS NOT NULL""")),

    // FORWARD as-of with tolerance: each purchase gets the user's NEXT
    // click within 30 minutes (pandas merge_asof(direction='forward',
    // tolerance=...)). Same union-sort plan, time-reversed; the tolerance
    // is a post-mask, not a join condition. Tie at equal ts -> largest
    // right ordering (event_id), mirrored in the oracle's ORDER BY.
    // EXACT-INTEGER PAGERANK (3 damped rounds, Q40 fixed point) over the
    // customer↔supplier co-purchase graph — link-analysis quality
    // weighting (the CommonCrawl host-rank idea). Floor division on
    // non-negative longs at every step: both engines produce identical
    // bits, unlike float PageRank whose sums depend on aggregation order.
    "q_pagerank" -> Q(
      (s, dir) => {
        // distinct BEFORE widening to string ids: the (custkey, suppkey)
        // int pairs shuffle at 16 bytes/row where the concat'd ids cost
        // ~2× that, and the c*/s* namespaces are disjoint so the reversed
        // union of a distinct pair set is itself distinct — pageRank's
        // own re-distinct (a second full exchange of the edge table) is
        // skipped via edgesDistinct
        val pairs = table(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
          .join(table(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select("o_custkey", "l_suppkey").distinct()
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
        val edges = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 3,
          edgesDistinct = true)
      },
      pagerankOracleSql(3)),

    // TRIANGLE COUNT over the parts-co-ordered-together graph (edges =
    // unordered part pairs sharing an order): the degree-ordered
    // node-iterator — orientation bounds the wedge table at m^1.5 on ANY
    // degree sequence, where the naive neighbor self-join dies on the
    // first hub. Oracle: the brute canonical-triple triple-join.
    "q_triangles" -> Q(
      (s, dir) =>
        graft.operators.Graph.triangleCount(partEdges(s, dir), "s", "d"),
      Some(s"""
        WITH $partEdgesCtes
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""")),

    // Per-node local clustering coefficients over the same graph, exact
    // integer ppm (2T·10⁶ div d(d−1)) — the link-spam shape detector
    // (high degree + near-zero clustering). Triangle triples exploded ×3;
    // zero-triangle nodes keep their row.
    "q_clustering" -> Q(
      (s, dir) =>
        graft.operators.Graph.clusteringCoefficients(partEdges(s, dir), "s", "d"),
      Some(s"""
        WITH $partEdgesCtes,
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        tn AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT unnest([x, y, z]) AS n FROM tri) GROUP BY 1),
        d AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
        SELECT d.n AS node, d.degree,
          COALESCE(tn.t, CAST(0 AS BIGINT)) AS n_triangles,
          CASE WHEN d.degree < 2 THEN CAST(0 AS BIGINT)
               ELSE CAST(2 * COALESCE(tn.t, 0) * 1000000
                         // (d.degree * (d.degree - 1)) AS BIGINT)
          END AS coeff_ppm
        FROM d LEFT JOIN tn ON d.n = tn.n""")),

    // Degree distribution of the same graph — the first-look histogram
    // (hub detection, power-law sanity) as two bounded aggregates.
    "q_degree_dist" -> Q(
      (s, dir) =>
        graft.operators.Graph.degreeDistribution(partEdges(s, dir), "s", "d"),
      Some(s"""
        WITH $partEdgesCtes,
        d AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS n FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1)
        SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        FROM d GROUP BY 1""")),

    // NEAREST as-of (pandas merge_asof direction='nearest'): each
    // purchase gets the user's temporally CLOSEST click within 30
    // minutes, equal distance breaking backward. One union exchange,
    // two in-partition carries — never a join of two as-of results.
    "q_asof_nearest" -> Q(
      (s, dir) => toleranceAsOf(s, dir, "nearest"),
      toleranceAsOfOracle(
        """abs(epoch(c.ts) - epoch(p.ts)),
                    CAST(c.ts <= p.ts AS INT) DESC, c.event_id DESC""",
        "abs(epoch(c.ts) - epoch(p.ts)) <= 1800")),

    "q_asof_forward" -> Q(
      (s, dir) => toleranceAsOf(s, dir, "forward"),
      toleranceAsOfOracle("c.ts, c.event_id DESC",
        "c.ts >= p.ts AND epoch(c.ts) - epoch(p.ts) <= 1800")),

    "q_events_window" -> Q(
      (s, dir) => EventStreams.windowedStatsBatch(events(s, dir)),
      Some("""SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             FROM events GROUP BY 1, 2""")),

    // Stream-stream interval join's batch twin: purchase ← clicks of the
    // same user within the preceding hour.
    "q_events_join" -> Q(
      (s, dir) => EventStreams.clickPurchaseJoinBatch(events(s, dir), windowMinutes = 60),
      Some("""SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts
             FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             JOIN (SELECT * FROM events WHERE event_type = 'click') c
               ON p.user_id = c.user_id
              AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE""")),

    // Left-outer twin of the interval join: purchases with NO prior click
    // survive with null click columns (the streaming twin holds them until
    // the watermark proves completeness, then emits identically).
    "q_events_join_outer" -> Q(
      (s, dir) => EventStreams.clickPurchaseJoinBatch(events(s, dir),
        windowMinutes = 60, joinType = "left_outer"),
      Some("""SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts
             FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
               ON p.user_id = c.user_id
              AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE""")),

    // RANGE JOIN (no equi-key): each purchase event attaches to every
    // multi-event session (any user's) whose time window covers it. Spark
    // would plan the bare inequality join as a BroadcastNestedLoopJoin;
    // Joins.rangeJoin turns it into a binned hash equi-join (30-min bins
    // ~ the typical session length). Oracle does the naive inequality join.
    "q_range_join" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        val sess = EventStreams.sessionizeBatch(ev, gapMinutes = 30)
          .filter(col("n_events") >= 2)
          .select(col("user_id").as("sess_user_id"),
            col("session_start"), col("session_end"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.Joins.rangeJoin(purchases, sess,
          "ts", "session_start", "session_end", binWidth = 1800)
      },
      Some(s"""
        $sessionCte,
        agg AS (SELECT user_id AS sess_user_id, min(ts) AS session_start,
                  max(ts) AS session_end, count(*) AS n
                FROM sess GROUP BY user_id, sess_id),
        p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts, a.sess_user_id, a.session_start, a.session_end
        FROM p JOIN agg a ON p.ts >= a.session_start AND p.ts <= a.session_end
        WHERE a.n >= 2""")),

    // INTERVAL-OVERLAP JOIN (no equi-key): pairs of concurrent multi-event
    // sessions across users — binned equi-join + canonical-bin filter, each
    // overlapping pair emitted exactly once, no distinct, no cross join.
    "q_range_overlap" -> Q(
      (s, dir) => {
        val sess = EventStreams.sessionizeBatch(events(s, dir), gapMinutes = 30)
          .filter(col("n_events") >= 2)
        val a = sess.select(col("user_id").as("u1"),
          col("session_start").as("start1"), col("session_end").as("end1"))
        val b = sess.select(col("user_id").as("u2"),
          col("session_start").as("start2"), col("session_end").as("end2"))
        graft.operators.Joins.intervalOverlapJoin(a, b,
          "start1", "end1", "start2", "end2", binWidth = 1800)
          .filter(struct(col("u1"), col("start1")) < struct(col("u2"), col("start2")))
      },
      Some(s"""
        $sessionCte,
        agg AS (SELECT user_id, min(ts) AS s, max(ts) AS e, count(*) AS n
                FROM sess GROUP BY user_id, sess_id)
        SELECT a.user_id AS u1, a.s AS start1, a.e AS end1,
               b.user_id AS u2, b.s AS start2, b.e AS end2
        FROM agg a JOIN agg b
          ON a.s <= b.e AND b.s <= a.e
         AND (a.user_id, a.s) < (b.user_id, b.s)
        WHERE a.n >= 2 AND b.n >= 2""")),

    // CONVERSION FUNNEL (view → click → purchase): per user, earliest view,
    // earliest click at-or-after it, earliest purchase at-or-after that;
    // stage = deepest step reached. Per step one user-key hash equi-join
    // (ordering as a join filter, no theta join) + one map-side-combined
    // min aggregation — no per-user window sorts.
    "q_events_funnel" -> Q(
      (s, dir) => EventStreams.funnel(events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")),
      Some("""
        WITH v AS (SELECT user_id, min(ts) AS ts_1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT v.user_id, v.ts_1, min(e.ts) AS ts_2
              FROM v LEFT JOIN events e
                ON e.user_id = v.user_id AND e.event_type = 'click'
               AND e.ts >= v.ts_1
              GROUP BY 1, 2),
        p AS (SELECT c.user_id, c.ts_1, c.ts_2, min(e.ts) AS ts_3
              FROM c LEFT JOIN events e
                ON e.user_id = c.user_id AND e.event_type = 'purchase'
               AND e.ts >= c.ts_2
              GROUP BY 1, 2, 3)
        SELECT user_id, ts_1, ts_2, ts_3,
          CAST(CASE WHEN ts_3 IS NOT NULL THEN 3
                    WHEN ts_2 IS NOT NULL THEN 2
                    ELSE 1 END AS INT) AS stage
        FROM p""")),

    "q_events_session" -> Q(
      (s, dir) => EventStreams.sessionizeBatch(events(s, dir), gapMinutes = 30),
      eventsSessionOracle),
  )
}
