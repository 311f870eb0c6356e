package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object StreamTwinBattery {
  import Queries.{Q, table}
  import BatteryUtil._


  val queries: Seq[(String, Q)] = Seq(
    // EVENT-TIME SESSIONIZATION, streamed: the flatMapGroupsWithState
    // interval-merge sessionizer fed the pinned corpus as three
    // CONSECUTIVE time-ordered micro-batches (determinism holds for any
    // batch split of an in-order stream — EventStreams.mergeSessions),
    // then a far-future sentinel advances the watermark past every open
    // session's end + gap so event-time timeouts flush ALL sessions.
    // Oracle: the batch gap-sessionization SQL (q_events_session's CTE)
    // restricted to the same pinned slice — stream must equal batch.
    // GRANULARITY CONTRACT: the sessionizer's per-key state is epoch
    // MILLIS (ts.getTime), so session bounds and gap decisions truncate
    // sub-millisecond precision; the oracle sessionizes the same
    // millis-truncated timestamps so both engines decide identical gaps.
    "q_session_stream" -> Q(
      (s, dir) => runSessionStream(s, dir, evenSplit),
      sessionStreamOracle),
    // the same sessionizer under BURSTY arrival: one event trickles in,
    // the bulk lands as a single huge batch, the tail follows — the
    // watermark jumps unevenly between micro-batches, and flushed
    // sessions must still equal the batch gap-sessionization exactly
    "q_session_stream_uneven" -> Q(
      (s, dir) => runSessionStream(s, dir, unevenSplit),
      sessionStreamOracle),
    // the same sessionizer fed by a REAL rate-limited FILE SOURCE
    // (maxFilesPerTrigger = 1, mtime-ordered slice files, sentinel file
    // last) — the engine draws the batch boundaries; the flushed
    // sessions must still equal the batch gap-sessionization exactly
    "q_session_stream_files" -> Q(
      (s, dir) => runSessionStreamFiles(s, dir),
      sessionStreamOracle),

    // STREAMING EXACTLY-ONCE DEDUP: dropDuplicatesWithinWatermark keyed on
    // the id ALONE, fed three batches where batches 2 and 3 RE-SEND every
    // earlier batch's events as retransmissions with shifted timestamps
    // and garbled values — a `dropDuplicates(id, ts)` impostor, or a sink
    // that let any replay through, would surface the +999 garble and fail
    // the hash gate. Expected output = exactly the first-arrival
    // originals. The pinned slice spans ~1.5 days, far inside the 90-day
    // watermark horizon, so no original can be late-dropped.
    "q_event_dedup_stream" -> Q(
      (s, dir) => runEventDedupStream(s, dir, evenSplit),
      eventDedupOracle),
    // bursty retransmission: the 1-row first batch's event is re-sent by
    // BOTH later batches (garbled twice over), and the huge second
    // batch's entire payload replays inside the small third — expected
    // output is still exactly the first-arrival originals
    "q_event_dedup_stream_uneven" -> Q(
      (s, dir) => runEventDedupStream(s, dir, unevenSplit),
      eventDedupOracle),

    // SKEW-SALTED JOIN (previously spec-only, JoinsSpec): the left side
    // salts by row hash, the right side replicates across the salt
    // domain, so one hot orderkey spreads over `saltBuckets` tasks instead
    // of one straggler. Result must equal the plain join bit-for-bit —
    // gated through the same long-cents aggregation as q1_agg.
    "q_salted_join" -> Q(
      (s, dir) => {
        val l = table(s, dir, "lineitem")
          .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
        val o = table(s, dir, "orders")
          .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
        graft.operators.Joins.saltedInner(l, o, Seq("okey"), saltBuckets = 8)
          .groupBy(col("o_orderstatus"))
          .agg((sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0)
            .as("sum_price"), count(lit(1)).as("cnt"))
      },
      orderStatusPriceOracle),

    // STREAMING MISRA–GRIES HEAVY HITTERS in the exact regime: the
    // per-group k-counter state carries across three micro-batches
    // (mapGroupsWithState), each batch's emission lands stamped with its
    // batch id, and the row serves each group's LAST emission — the
    // sketch's final state. The pinned corpus keeps every group's
    // distinct-token count under k, so MG never reduces and the served
    // counts must equal exact corpus counts — any cross-batch state loss,
    // double-count, or spurious reduction breaks the hash gate.
    "q_heavy_stream" -> Q(
      (s, dir) => runHeavyStream(s, dir, evenSplit),
      heavyStreamOracle),
    // bursty arrival for the cross-batch MG state: a single document,
    // then ~80% of the corpus in one batch, then the tail — the exact
    // regime's final state (and so the served last emission) must be
    // split-invariant
    "q_heavy_stream_uneven" -> Q(
      (s, dir) => runHeavyStream(s, dir, unevenSplit),
      heavyStreamOracle),

    // kNN LABEL PROPAGATION: every 10th vector plays "unlabeled query",
    // the rest are the labeled seed corpus; each query takes the majority
    // label of its 5 highest-inner-product seeds (exact integer dot on
    // 1e-4-quantized vectors — bit-reproducible across engines, unlike
    // float dots whose sums depend on aggregation order). The oracle
    // recomputes the same quantized dot, rank, and vote in pure SQL.
    // The LSH-blocked scale rung: bucket-overlap candidates (fixed
    // planes=3/tables=8/seed=42 — the embedding family's convention),
    // same integer-dot rank and vote. Golden: an independent driver
    // recomputation of candidates + quantized dots + vote (bucket codes
    // are not SQL-expressible).
    "q_knn_label_lsh" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.labelPropagateLsh(
          emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") % 50 =!= 0),
          idCol = "vec_id", vecCol = "embedding", labelCol = "label",
          k = 5, planes = 3, tables = 8, seed = 42L)
      },
      golden("q_knn_label_lsh")),

    // LSH label propagation at the OPT-IN VOTE-TARGET tuning
    // (LshTuning.forVote), executed end-to-end IN ITS REGIME: the pinned
    // clustered fixture (Queries.clusteredLabelCorpus — unit-normalized,
    // real cluster structure, SF-independent) where the collision-loss
    // model is exact and ANN_SWEEP round-17 measured 100% vote agreement
    // at 23.6% of the brute candidate pairs. Tuning derived the
    // production way (n = 1800 seeds, threshold 0.9, k = 5); golden =
    // the independent driver mirror (bucket overlap + quantized integer
    // dot + majority vote) at the same derived params.
    "q_knn_label_vote" -> Q(
      (s, _) => {
        val emb = Queries.clusteredLabelCorpus(s)
        // the fixture is pinned at 2000 rows → 1800 seeds; deriving the
        // count with an extra action would buy nothing
        val t = graft.operators.LshTuning.forVote(1800L, threshold = 0.9,
          k = 5)
        Similarity.labelPropagateLsh(
          emb.filter(col("vec_id") % 10 === 0),
          emb.filter(col("vec_id") % 10 =!= 0),
          idCol = "vec_id", vecCol = "embedding", labelCol = "label",
          k = 5, planes = t.planes, tables = t.tables, seed = 42L)
      },
      golden("q_knn_label_vote")),

    "q_knn_label" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.labelPropagate(
          emb.filter(col("vec_id") % 10 === 0),
          emb.filter(col("vec_id") % 10 =!= 0),
          idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 5)
      },
      knnLabelOracle),
  )
}
