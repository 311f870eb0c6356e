package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)

final case class SessionSummary(user_id: Long, session_start: java.sql.Timestamp,
                                session_end: java.sql.Timestamp, n_events: Long)

/** Structured-Streaming operators over the events stream. Each transform has
  * a batch twin with identical semantics so correctness can be
  * oracle-checked on the batch path while tests drive the streaming path
  * through a MemoryStream.
  */
object EventStreams {

  /** Hourly tumbling-window stats. Streaming: watermarked event-time window
    * (state bounded by the watermark — safe for unbounded streams).
    * Sums accumulate in DECIMAL (exact regardless of partition order); the
    * projected column is DOUBLE — the canonical output representation every
    * engine renders identically.
    */
  def windowedStatsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("h"), col("event_type"), col("cnt"), col("sum_value"))

  /** Batch twin of [[windowedStatsStream]] (same output schema/values for
    * fully-arrived data).
    */
  def windowedStatsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Streaming exactly-once dedup on an id column: watermark-bounded state,
    * keyed on the ids ALONE (`dropDuplicatesWithinWatermark`) — a replayed
    * event is deduplicated even when the retransmission carries a different
    * event timestamp, which `dropDuplicates(idCols :+ "ts")` would miss.
    * The standard at-least-once → exactly-once repair stage in event
    * ingestion; state is bounded by the watermark horizon.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** STREAM-STREAM interval join: each purchase pairs with every click by
    * the same user in the preceding `windowMinutes`. Both sides are
    * watermarked and the join carries an event-time range condition, so
    * Spark bounds the buffered state on each side by the watermark + range
    * span — the canonical attribution join, safe on unbounded streams.
    */
  def clickPurchaseJoinStream(events: DataFrame, windowMinutes: Int = 60,
                              watermarkDelay: String = "2 hours",
                              joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    // user_id projects from the LEFT side: under left_outer the right side
    // is null for attribution-less purchases. With joinType="left_outer"
    // the watermark also bounds when an unmatched purchase can be emitted
    // (state for it is provably complete) — the engine holds it until the
    // click watermark passes purchase_ts, then emits it with null clicks.
    purchases.join(clicks,
      col("p_user_id") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("p_user_id").as("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Batch twin of [[clickPurchaseJoinStream]]: plans as one equi-join on
    * user_id (the range condition rides inside the join, required for outer
    * correctness) — no row explosion beyond the per-user click×purchase
    * products, and AQE handles user skew.
    */
  def clickPurchaseJoinBatch(events: DataFrame, windowMinutes: Int = 60,
                             joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** `foreachBatch` sink writing each micro-batch as parquet PARTITIONED BY
    * event date — the standard streaming-ingest → partitioned-lake layout
    * (downstream batch queries prune by date at the source). Exactly-once
    * per partition-dir comes from parquet's atomic task commits + the
    * sink's idempotent overwrite of a batch's own output
    * ([[processLakeBatch]]).
    */
  def toPartitionedParquet(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processLakeBatch(batch, batchId, path)
    }

  /** One micro-batch of the [[toPartitionedParquet]] sink (factored out
    * so batch semantics are testable without a streaming harness — the
    * [[DocumentStreams.processBatch]] convention). The batch lands under
    * `event_date=…/__batch_id=…/` via DYNAMIC partition overwrite: a
    * foreachBatch RETRY (epoch replayed after a mid-write failure)
    * rewrites exactly the partitions the batch owns instead of appending
    * a second copy — `__batch_id` in the partitioning is what makes the
    * overwrite surgical (a date-only layout would have a retry clobber
    * OTHER batches sharing the date). The r15 implementation appended;
    * its claimed idempotence was wrong under retry.
    */
  def processLakeBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("event_date", to_date(col("ts")))
      .withColumn("__batch_id", lit(batchId))
      // REBALANCE by the date key before the partitioned write (round-20,
      // guide §6 small files): without it every scan task holding rows of
      // d dates writes d files — dates × tasks tiny files per batch at
      // cluster scale (at sf0.1 the batch scan is one task, so the local
      // layout was already one file per date — measured, OPTIMIZATION_r20.md).
      // The AQE rebalance clusters rows by date AND splits a hot date by
      // advisory size, so output files track bytes, not task count, and
      // one skewed date cannot serialize the write.
      .hint("rebalance", col("event_date"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date", "__batch_id").parquet(path)

  /** Replay source for the [[toPartitionedParquet]] lake layout: stream the
    * partitioned parquet directory back (schema discovered from a batch
    * read). With `Trigger.AvailableNow` this is the standard backfill /
    * reprocess loop — rerun a streaming transform over the full history
    * with bounded per-batch state, then stop. `maxFilesPerTrigger` caps
    * micro-batch size so replaying years of history cannot build one giant
    * batch.
    */
  def fromPartitionedParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                             maxFilesPerTrigger: Int = 1000): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
  }

  /** Batch sessionization: a session breaks after `gapMinutes` of
    * inactivity. One shuffle (partition by user), sort within partitions —
    * the classic lag + running-sum plan.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
  }

  /** CONVERSION FUNNEL: per user, the earliest `steps.head` event, then
    * per later step the earliest event AT OR AFTER the previous step's
    * chosen timestamp (strictly ordered progression; an out-of-order
    * conversion — a click before the first view — does not count).
    * Output: one row per user who reached step 1, with `ts_1..ts_n`
    * (null once the funnel breaks) and `stage` = deepest step reached.
    *
    * Plan shape: per step, one hash EQUI-join on the user key (the
    * timestamp ordering rides as a join filter, never a range/theta join)
    * + one hash aggregation with map-side combine — a user with millions
    * of step events collapses to one row per map task before the shuffle.
    * No windows, so no per-user sort of whole event histories; step count
    * is the only multiplier, and funnels are short by nature.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("ts_1"))
    val full = steps.zipWithIndex.tail.foldLeft(first) { case (acc, (step, i)) =>
      val k = i + 1
      val next = events.filter(col(typeCol) === step)
        .select(col(userCol).as("__u"), col(tsCol).as("__t"))
      val carried = (Seq(userCol) ++ (1 until k).map(j => s"ts_$j")).map(col)
      acc.join(next,
          col(userCol) === col("__u") && col("__t") >= col(s"ts_${k - 1}"),
          "left")
        .groupBy(carried: _*)
        .agg(min(col("__t")).as(s"ts_$k"))
    }
    val stage = (2 to steps.length).foldLeft(lit(1): Column) { (acc, k) =>
      when(col(s"ts_$k").isNotNull, lit(k)).otherwise(acc)
    }
    full.withColumn("stage", stage.cast("int"))
  }

  /** EVENT-TIME sessionization via per-key mutable state: sessions close
    * when the WATERMARK passes session_end + gap — deterministic in event
    * time (replaying the same stream yields the same sessions at the same
    * points, unlike the wall-clock variant below; see [[mergeSessions]] for
    * the one cross-batch emission caveat). Out-of-order events within the
    * watermark merge correctly on both sides of the open session (start
    * moves backward via the interval merge). State per user is O(1);
    * `setTimeoutTimestamp` is clamped above the current watermark
    * (required by the engine when late data arrives after the horizon).
    */
  def sessionizeStreamEventTime(events: Dataset[Event], gapMinutes: Int,
                                watermarkDelay: String = "2 hours")
      : Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event],
         state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (start, end, n, _) = state.get
            state.remove()
            Iterator.single(SessionSummary(
              userId, new java.sql.Timestamp(start), new java.sql.Timestamp(end), n))
          } else {
            val (closed, cur) = mergeSessions(userId, batch, state.getOption, gapMs)
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(s._2 + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Shared in-batch session merge, as an INTERVAL MERGE over the open
    * session plus the batch's events: every event is an (t, t, 1) interval,
    * the open state a compressed (start, end, n) one; intervals sort by
    * start and chain-merge while the gap to the predecessor ≤ gapMs. This
    * handles out-of-order events on BOTH sides of the open session — an
    * event older than start merges with start = min (or forms its own
    * earlier session when it is more than a gap before start), an event
    * inside [start, end] just counts. All but the latest merged session
    * close; the latest stays open. Returns (closed sessions ascending, the
    * still-open session).
    *
    * Cross-batch caveat (documented, inherent to incremental emission): a
    * session closed here because a LATER event in the same batch broke the
    * gap is final — an even-later micro-batch can no longer extend it, even
    * inside the watermark, while the same two events arriving in one batch
    * would have produced the same two sessions anyway. Determinism holds
    * for any arrival order of the SAME events within a batch, and for any
    * batch split of an in-order stream.
    */
  private def mergeSessions(userId: Long, batch: Iterator[Event],
                            open: Option[(Long, Long, Long, Long)], gapMs: Long)
      : (List[SessionSummary], Option[(Long, Long, Long, Long)]) = {
    val intervals =
      (batch.map(e => (e.ts.getTime, e.ts.getTime, 1L)) ++
        open.iterator.map { case (s, e, n, _) => (s, e, n) })
        .toSeq.sortBy { case (s, e, _) => (s, e) }
    var merged = List.empty[(Long, Long, Long)] // descending by start
    intervals.foreach { case (s, e, n) =>
      merged match {
        case (ps, pe, pn) :: rest if s - pe <= gapMs =>
          merged = (ps, math.max(pe, e), pn + n) :: rest
        case _ =>
          merged = (s, e, n) :: merged
      }
    }
    val ascending = merged.reverse
    val closed = ascending.dropRight(1).map { case (s, e, n) =>
      SessionSummary(userId, new java.sql.Timestamp(s), new java.sql.Timestamp(e), n)
    }
    val cur = ascending.lastOption.map { case (s, e, n) => (s, e, n, userId) }
    (closed, cur)
  }

  /** Streaming sessionization via per-key mutable state
    * (`flatMapGroupsWithState`): emits a [[SessionSummary]] when a session
    * closes on timeout. State per user is O(1) — start/end/count — so the
    * operator scales to arbitrarily many users.
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int,
                       timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionSummary] = {
    // session expiry uses setTimeoutDuration, which only
    // ProcessingTimeTimeout supports — EventTimeTimeout would throw
    // UnsupportedOperationException at RUNTIME on the first batch
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "sessionizeStream supports ProcessingTimeTimeout or NoTimeout; " +
        "EventTimeTimeout needs setTimeoutTimestamp-based expiry")
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val useTimeout = timeout != GroupStateTimeout.NoTimeout

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionSummary](
        OutputMode.Append, timeout) {
        (userId: Long, batch: Iterator[Event],
         state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (start, end, n, _) = state.get
            state.remove()
            Iterator.single(SessionSummary(
              userId, new java.sql.Timestamp(start), new java.sql.Timestamp(end), n))
          } else {
            val (closed, cur) = mergeSessions(userId, batch, state.getOption, gapMs)
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.iterator
          }
      }
  }
}
