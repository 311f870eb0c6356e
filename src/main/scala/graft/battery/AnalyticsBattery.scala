package graft

import graft.functions.TextFunctions._
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object AnalyticsBattery {
  import Queries.{Q, table, events}
  import BatteryUtil._

  // The per-event-type statistics rows' input: integer cents by event.
  private def typedCents(s: org.apache.spark.sql.SparkSession, dir: String) =
    events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .select("event_id", "event_type", "cents")

  private val typedCentsCte = """c AS (SELECT event_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events)"""


  val queries: Seq[(String, Q)] = Seq(
    // PIVOT with explicit values (no distinct-discovery job) and
    // zero-filled absent cells: order counts by priority × status.
    "q_pivot" -> Q(
      (s, dir) => graft.operators.Analytics.pivotCounts(
        table(s, dir, "orders"), Seq("o_orderpriority"), "o_orderstatus",
        Seq("F", "O", "P")),
      Some("""SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
               count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
               count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
             FROM orders GROUP BY 1""")),

    // ROLLUP (year, status) with the grouping-id convention; money sums
    // accumulate as long cents (the q1_agg pattern).
    "q_rollup" -> Q(
      (s, dir) => graft.operators.Analytics.rollupAgg(
        table(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")).cast("int")),
        Seq("yr", "o_orderstatus"),
        Seq(count(lit(1)).as("cnt"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
            .as("sum_price"))),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS INT) AS gid
             FROM orders
             GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)""")),

    // CUBE twin of q_rollup: every (yr, status) margin, driver-visible.
    "q_cube" -> Q(
      (s, dir) => graft.operators.Analytics.cubeAgg(
        table(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")).cast("int")),
        Seq("yr", "o_orderstatus"),
        Seq(count(lit(1)).as("cnt"))),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus,
               count(*) AS cnt,
               CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS INT) AS gid
             FROM orders
             GROUP BY CUBE (year(o_orderdate), o_orderstatus)""")),

    // ROBUST Tukey-fence outliers per user over purchase cents: Q1/Q3 at
    // dyadic 0.25/0.75 of integer cents and a dyadic fence multiplier
    // keep every fence exactly representable — both engines flag
    // identical rows. (Uniform synthetic values have no 1.5-IQR tail;
    // k=0.25 exercises real flags.)
    "q_outliers_iqr" -> Q(
      (s, dir) => graft.operators.Analytics.tukeyOutliers(
        events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .select("event_id", "user_id", "cents"),
        Seq("user_id"), col("cents"), k = 0.25)
        .filter(col("outlier") === 1)
        .select("event_id", "user_id", "cents", "q1", "q3"),
      Some("""
        WITH c AS (SELECT event_id, user_id,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        st AS (SELECT user_id,
                 quantile_cont(cents, 0.25) AS q1,
                 quantile_cont(cents, 0.75) AS q3
               FROM c GROUP BY 1)
        SELECT event_id, user_id, cents, q1, q3
        FROM c JOIN st USING (user_id)
        WHERE cents < q1 - 0.25 * (q3 - q1) OR cents > q3 + 0.25 * (q3 - q1)""")),

    // ROBUST SCALING: (x − median)/MAD per event-type — the 50%-breakdown
    // normalization monitoring pipelines use where one outlier would
    // corrupt mean/stddev. Dyadic exact medians over integer cents →
    // identical doubles on both engines.
    "q_robust_scale" -> Q(
      (s, dir) => graft.operators.Analytics.robustStandardize(
        typedCents(s, dir), Seq("event_type"), col("cents")),
      Some(s"""
        WITH $typedCentsCte,
        med AS (SELECT event_type, quantile_cont(CAST(cents AS DOUBLE), 0.5) AS m
                FROM c GROUP BY 1),
        mad AS (SELECT event_type,
                  quantile_cont(abs(CAST(cents AS DOUBLE) - m), 0.5) AS d
                FROM c JOIN med USING (event_type) GROUP BY 1)
        SELECT event_id, event_type, cents,
          CASE WHEN cents IS NULL THEN NULL
               WHEN d = 0 THEN 0.0
               ELSE (CAST(cents AS DOUBLE) - m) / d END AS robust_z
        FROM c JOIN med USING (event_type) JOIN mad USING (event_type)""")),

    // PERCENTILE RANK (ECDF): percent_rank semantics in exact integer
    // ppm — counts aggregate first, the prefix runs over the
    // distinct-value table, rows join back; no data-row window sort.
    "q_pct_rank" -> Q(
      (s, dir) => graft.operators.Analytics.percentileRank(
        typedCents(s, dir), Seq("event_type"), col("cents")),
      Some(s"""
        WITH $typedCentsCte
        SELECT event_id, event_type, cents,
          CAST((rank() OVER (PARTITION BY event_type ORDER BY cents) - 1)
            * 1000000 // (count(*) OVER (PARTITION BY event_type) - 1)
            AS BIGINT) AS pct_ppm
        FROM c""")),

    // WINSORIZE: clip each event's cents into its event-type's exact
    // [p(1/64), p(63/64)] band — heavy-tail taming without row drops.
    // Dyadic probs over integer cents: the interpolated fences and the
    // clipped doubles are bit-identical on both engines (the
    // q_outliers_iqr argument).
    "q_winsorize" -> Q(
      (s, dir) => graft.operators.Analytics.winsorize(
        typedCents(s, dir), Seq("event_type"), col("cents")),
      Some(s"""
        WITH $typedCentsCte,
        st AS (SELECT event_type,
                 quantile_cont(cents, 0.015625) AS lo,
                 quantile_cont(cents, 0.984375) AS hi
               FROM c GROUP BY 1)
        SELECT event_id, event_type, cents,
          CASE WHEN cents IS NULL THEN NULL
               ELSE least(greatest(CAST(cents AS DOUBLE), lo), hi) END AS winsorized
        FROM c JOIN st USING (event_type)""")),

    // PER-GROUP STANDARDIZATION: z-scores whose float tail is one
    // integer-numerator division and one correctly-rounded sqrt — no
    // order-dependent float accumulation, so the doubles are
    // bit-identical across engines (flagOutliers' algebra, emitting the
    // score instead of the flag).
    "q_standardize" -> Q(
      (s, dir) => graft.operators.Analytics.standardize(
        typedCents(s, dir), Seq("event_type"), col("cents")),
      Some(s"""
        WITH $typedCentsCte,
        st AS (SELECT event_type, CAST(count(cents) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s,
                 CAST(sum(cents * cents) AS BIGINT) AS sq
               FROM c GROUP BY 1)
        SELECT event_id, event_type, cents, n,
          CASE WHEN cents IS NULL THEN NULL
               WHEN n < 2 OR n * sq - s * s = 0 THEN 0.0
               ELSE CAST(n * cents - s AS DOUBLE) / sqrt(CAST(n * sq - s * s AS DOUBLE))
          END AS z
        FROM c JOIN st USING (event_type)""")),

    // MERGE OVERLAPPING INTERVALS (gaps-and-islands): each event opens a
    // 5-minute activity window; overlapping/touching windows per user
    // coalesce into spans. Per-KEY windows only (parallel across users),
    // then one map-side-combined aggregate.
    "q_merge_intervals" -> Q(
      (s, dir) => graft.operators.Joins.mergeIntervals(
        events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + 300000000L).as("end_us")),
        Seq("user_id"), "start_us", "end_us"),
      Some("""
        WITH iv AS (SELECT user_id, epoch_us(ts) AS start_us,
                      epoch_us(ts) + 300000000 AS end_us FROM events),
        mx AS (SELECT user_id, start_us, end_us,
                 max(end_us) OVER (PARTITION BY user_id
                   ORDER BY start_us, end_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev
               FROM iv),
        isl AS (SELECT user_id, start_us, end_us,
                  CAST(sum(CASE WHEN start_us > max_prev THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY start_us, end_us
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS island
                FROM mx)
        SELECT user_id, CAST(min(start_us) AS BIGINT) AS start_us,
          CAST(max(end_us) AS BIGINT) AS end_us,
          CAST(count(*) AS BIGINT) AS n_merged
        FROM isl GROUP BY user_id, island""")),

    // PER-USER ordered window signals: 3-row moving sum + lag delta over
    // integer cents, deterministic (ts, event_id) order — the window-
    // function family, integer-exact on both engines.
    "q_window_ts" -> Q(
      (s, dir) => graft.operators.Analytics.timeSeriesStats(
        events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .select("event_id", "user_id", "ts", "cents"),
        Seq("user_id"), Seq("ts", "event_id"), col("cents"), frameRows = 3)
        .select("event_id", "user_id", "cents", "mov_sum", "delta"),
      Some("""
        WITH c AS (SELECT event_id, user_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        SELECT event_id, user_id, cents,
          CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_sum,
          cents - lag(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS delta
        FROM c""")),

    // COHORT RETENTION over the events table: users bucketed by
    // first-event day, counted once per later active day-offset.
    "q_retention" -> Q(
      (s, dir) => graft.operators.Analytics.retentionCohorts(
        events(s, dir), "user_id", "ts"),
      Some("""
        WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort
                   FROM events GROUP BY 1),
        act AS (SELECT DISTINCT e.user_id, f.cohort,
                  CAST(date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS INT) AS k
                FROM events e JOIN f USING (user_id))
        SELECT cohort, k, count(*) AS n_users FROM act GROUP BY 1, 2""")),

    // PER-LANGUAGE weighted sample: 10 docs per language, A-ES keys
    // proportional to n_chars — group quotas + within-group weighting in
    // one bounded-heap aggregate. Oracle: the row_number window over the
    // identical ln(u)/w expression.
    "q_weighted_stratified" -> Q(
      (s, dir) => graft.operators.Sampling.stratifiedWeightedSample(
        table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), n = 10, weight = col("n_chars"), key = col("doc_id")),
      Some("""
        SELECT doc_id, lang, n_chars FROM (
          SELECT doc_id, lang, n_chars,
            row_number() OVER (PARTITION BY lang ORDER BY
              ln(greatest(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), 1)
                 / 4294967296.0) / n_chars DESC, doc_id) AS rn
          FROM documents WHERE n_chars > 0) t
        WHERE rn <= 10""")),

    // DETERMINISTIC weighted sample (A-ES, proportional to n_chars):
    // hash-uniform u, ln(u)/w ranking, largest-50. The ln(u)/w key itself
    // is never emitted (last-ulp libm variation) — only its ORDER is used,
    // identically on both engines.
    "q_weighted_sample" -> Q(
      (s, dir) => graft.operators.Sampling.weightedSample(
        table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        n = 50, weight = col("n_chars"), key = col("doc_id")),
      Some("""
        SELECT doc_id, lang, n_chars FROM (
          SELECT doc_id, lang, n_chars,
            ln(greatest(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), 1)
               / 4294967296.0) / n_chars AS aes
          FROM documents WHERE n_chars > 0)
        ORDER BY aes DESC, doc_id LIMIT 50""")),

    // CONTRASTIVE negative mining: 5 deterministic pseudo-random corpus
    // negatives per anchor (doc_id % 50 = 0) via hash-bucket probes —
    // never a cross join. Same md5 arithmetic on both engines.
    "q_negatives" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.operators.Sampling.negativePairs(
          docs.filter(col("doc_id") % 50 === 0), "doc_id",
          docs, "doc_id", k = 5, nBuckets = 32)
      },
      Some("""
        WITH cand AS (SELECT doc_id AS c,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS b
          FROM documents),
        slots AS (SELECT a.doc_id AS anchor, r.i AS slot,
            CAST(('0x' || substring(md5(CAST(a.doc_id AS VARCHAR) || ':' ||
              CAST(r.i AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS b
          FROM documents a, range(5) r(i) WHERE a.doc_id % 50 = 0),
        j AS (SELECT anchor, slot, c,
                md5(CAST(anchor AS VARCHAR) || ':' || CAST(slot AS VARCHAR)
                  || ':' || CAST(c AS VARCHAR)) AS h
              FROM slots JOIN cand USING (b) WHERE c <> anchor)
        SELECT anchor, slot, c AS negative FROM (
          SELECT *, row_number() OVER (PARTITION BY anchor, slot
            ORDER BY h, c) AS rn FROM j) t
        WHERE rn = 1""")),

    // MODEL-BASED quality classification: fastText-style hashed-bigram
    // linear model, committed Q16-quantized weights fixture (trained by
    // tools/QualityTrain against heuristic-quality labels, 0.996 train
    // acc). Integer logits: exact BIGINT sums on both engines; sigmoid is
    // one exp away offline, the keep decision gates here exactly.
    "q_quality_model" -> Q(
      (s, dir) => graft.operators.TextStats.modelQualityScore(
        table(s, dir, "documents"), "doc_id", "text",
        s.read.parquet("/root/repo/src/test/resources/golden/quality_weights"),
        nBuckets = 1024),
      Some(s"""
        WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        uni AS (SELECT doc_id, unnest(toks) AS f FROM tk),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS f
               FROM tk WHERE len(toks) >= 2),
        feats AS (SELECT doc_id,
            CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 1024 AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        w AS (SELECT bucket, w_q16
              FROM read_parquet('/root/repo/src/test/resources/golden/quality_weights/*.parquet')),
        s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                CAST(sum(COALESCE(w_q16, 0)) AS BIGINT) AS sw
              FROM feats LEFT JOIN w ON b = bucket GROUP BY 1),
        bias AS (SELECT w_q16 AS b0 FROM w WHERE bucket = -1)
        SELECT d.doc_id AS id,
          COALESCE(n_feats, CAST(0 AS BIGINT)) AS n_feats,
          b0 + COALESCE(sw, CAST(0 AS BIGINT)) AS logit_q16,
          CAST(b0 + COALESCE(sw, CAST(0 AS BIGINT)) >= 0 AS INT) AS keep
        FROM documents d CROSS JOIN bias LEFT JOIN s ON d.doc_id = s.doc_id""")),

    // SALIENT TERMS: top-3 per document by (tf DESC, df ASC, token) —
    // integer-exact keyword screening; the (tf, df) pair ships so true
    // tf-idf curves apply offline.
    // INVERTED-POSTINGS INDEX SHAPE, driver-gated (was spec-only —
    // SearchSpec pinned df/tf-order/cap; this row puts the table itself
    // under the oracle hash): the token→postings table q_bm25_indexed
    // serves from, exploded back to (token, df, id, tf) rows for the
    // three query terms, with the Zipf postings cap (8) far BELOW the
    // terms' df so the tf-ordered TopN truncation (highest tf first,
    // id tie-break) is itself gated — DuckDB recomputes the cap with a
    // row_number window over the same (tf DESC, id) order.
    "q_inverted_postings" -> Q(
      (s, dir) => graft.operators.Search.invertedPostings(
          table(s, dir, "documents"), "doc_id", "text", maxPostings = 8)
        .filter(col("token").isin("vector", "spark", "customer"))
        .select(col("token"), col("df"), explode(col("postings")).as("p"))
        .select(col("token"), col("df"),
          col("p.id").as("id"), col("p.tf").as("tf")),
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok
               WHERE token IN ('vector', 'spark', 'customer') GROUP BY 1, 2),
        dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        ranked AS (SELECT token, doc_id, tf,
            row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
          FROM tf)
        SELECT token, df, doc_id AS id, tf
        FROM ranked JOIN dfq USING (token) WHERE rn <= 8""")),

    // BM25 ranked retrieval: top-10 documents for a 3-term keyword query.
    // Both engines compute the same double formula in the same operation
    // order, but the projected battery columns are the INTEGER sufficient
    // stats + rank (the q_weighted_sample precedent: ln may differ in the
    // last ulp between libms, which can only flip a rank at a near-exact
    // score collision between different stat vectors).
    "q_bm25" -> Q(
      (s, dir) => graft.operators.Search.bm25TopK(
          table(s, dir, "documents"), "doc_id", "text",
          Seq("vector", "spark", "customer"), k = 10)
        .select("id", "rank", "n_terms", "sum_tf", "dl"),
      bm25OracleSql),

    // The same ranking served FROM the index tables ([[Search.buildBm25Index]]
    // → [[Search.bm25TopKIndexed]]): only the ≤|Q| matched postings rows
    // move and the corpus is never re-scanned — the build-once/serve-many
    // shape. Output equals the scan path whenever no matched token
    // overflows the postings cap (spec-pinned), so the two rows share one
    // oracle.
    "q_bm25_indexed" -> Q(
      (s, dir) => {
        val idx = graft.operators.Search.bm25IndexFor(
          table(s, dir, "documents"), cacheKey = s"$dir/documents!bm25",
          "doc_id", "text")
        graft.operators.Search.bm25TopKIndexed(
            idx, Seq("vector", "spark", "customer"), k = 10)
          .select("id", "rank", "n_terms", "sum_tf", "dl")
      },
      bm25OracleSql),

    // The same ranking served from the STREAMING-MAINTAINED index: the
    // corpus arrives as three micro-batch deltas (lengths + postings
    // partitions per batch, SearchStreams loop), queries merge the ≤|Q|
    // matched per-batch postings rows at read (df sums — exact under the
    // loop's unique-ids contract — postings concatenate and re-cap in
    // invertedPostings order). Same oracle as the scan and batch-index
    // rows: the delta-merged serve must be bit-equal.
    "q_bm25_stream" -> Q(
      (s, dir) => runBm25Stream(s, dir, compactAfterBatch1 = false),
      bm25OracleSql),

    // RETRIEVAL EVAL METRICS: precision/recall/RR@10 over three
    // single-term BM25 runs, judged against an engineered qrel set (docs
    // containing the query term with doc_id % 3 = 0 — a deterministic
    // "human-judged subset", so hits are partial and first-relevant ranks
    // vary). All metrics exact integer ppm (floor(1e6·x)); nDCG is
    // deliberately absent (transcendental discounts — see
    // Search.retrievalMetrics). Everything after the retriever runs is
    // eval-sized: the lists are top-k bounded, qrels are suite-sized.
    "q_retrieval_eval" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val terms = Seq("vector", "spark", "customer")
        val results = terms.map { t =>
          graft.operators.Search.bm25TopK(docs, "doc_id", "text", Seq(t), k = 10)
            .select(lit(t).as("query_id"), col("id"), col("rank"))
        }.reduce(_ unionByName _)
        val qrels = terms.map { t =>
          docs.filter(array_contains(tokens(col("text")), t) &&
              col("doc_id") % 3 === 0)
            .select(lit(t).as("query_id"), col("doc_id").as("id"))
        }.reduce(_ unionByName _)
        graft.operators.Search.retrievalMetrics(results, qrels, k = 10)
      },
      Some(s"""
        WITH lens AS (SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS dl FROM documents),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(sum(dl) AS DOUBLE) AS tot FROM lens),
        tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
               WHERE token IN ('vector', 'spark', 'customer') GROUP BY 1, 2),
        dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        scored AS (SELECT token AS query_id, doc_id,
            ln((nd - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
              / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / (tot / nd))) AS score
          FROM tf JOIN dfq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats),
        res AS (SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS BIGINT) AS rank
            FROM scored) t
          WHERE rank <= 10),
        qr AS (SELECT t.query_id, d.doc_id
          FROM (SELECT unnest(['vector', 'spark', 'customer']) AS query_id) t
          JOIN documents d ON list_contains($sqlTokens, t.query_id)
            AND d.doc_id % 3 = 0),
        rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM qr GROUP BY 1),
        ret AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ret FROM res GROUP BY 1),
        hit AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
                  min(r.rank) AS first_rel
                FROM res r JOIN qr ON r.query_id = qr.query_id
                  AND r.doc_id = qr.doc_id
                GROUP BY 1)
        SELECT rel.query_id, n_rel,
          COALESCE(n_ret, CAST(0 AS BIGINT)) AS n_ret,
          COALESCE(hits, CAST(0 AS BIGINT)) AS hits,
          CAST(COALESCE(hits, 0) * 1000000 // 10 AS BIGINT) AS precision_ppm,
          CAST(COALESCE(hits, 0) * 1000000 // n_rel AS BIGINT) AS recall_ppm,
          CAST(COALESCE(1000000 // first_rel, 0) AS BIGINT) AS rr_ppm
        FROM rel LEFT JOIN ret USING (query_id) LEFT JOIN hit USING (query_id)""")),

    "q_salient_terms" -> Q(
      (s, dir) => graft.operators.TextStats.salientTerms(
        table(s, dir, "documents"), "doc_id", "text", k = 3),
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        SELECT doc_id AS id, token, tf, df, rank FROM (
          SELECT doc_id, token, tf, df,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY tf DESC, df, token) AS rank
          FROM tf JOIN dfq USING (token)) t
        WHERE rank <= 3""")),

    // CLUSTER KEYWORDS: the salient-terms ranking lifted from documents
    // to the IVF embedding clusters (vec_id == doc_id in the corpus) —
    // per cluster, top-3 tokens by (cluster tf DESC, global df ASC,
    // token): "what is this cluster about", the corpus-exploration face
    // of the clustering. Committed index at the gate SF, memoized
    // production index at bench SFs; integer stats only.
    "q_cluster_keywords" -> Q(
      (s, dir) => {
        val idx =
          if (dir.endsWith("sf0.01"))
            Similarity.loadIvf(s, "/root/repo/src/test/resources/golden/ivf_index")
          else Similarity.ivfIndexFor(
            table(s, dir, "embeddings").filter(col("vec_id") =!= 0),
            cacheKey = s"$dir/embeddings!vec_id!16",
            "vec_id", "embedding", nClusters = 16)
        graft.operators.TextStats.clusterKeywords(
            table(s, dir, "documents"), "doc_id", "text",
            idx.assigned, "vec_id", "__cluster", k = 3)
          .select(col("cluster").cast("int").as("cluster"), col("token"),
            col("tf"), col("df"), col("rank"))
      },
      Some(s"""
        WITH asg AS (SELECT vec_id, CAST(__cluster AS INT) AS cluster
                     FROM read_parquet(
                       '/root/repo/src/test/resources/golden/ivf_index/assigned/*/*.parquet',
                       hive_partitioning=1)),
        tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        pdoc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                 FROM tok GROUP BY 1, 2),
        dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM pdoc GROUP BY 1),
        ctf AS (SELECT cluster, token, CAST(sum(tf) AS BIGINT) AS tf
                FROM pdoc JOIN asg ON pdoc.doc_id = asg.vec_id GROUP BY 1, 2)
        SELECT cluster, token, tf, df, rank FROM (
          SELECT cluster, ctf.token AS token, tf, df,
            CAST(row_number() OVER (PARTITION BY cluster
              ORDER BY tf DESC, df, ctf.token) AS BIGINT) AS rank
          FROM ctf JOIN dfq ON ctf.token = dfq.token) t
        WHERE rank <= 3""")),

    // EXACT integer outlier flag: per-user purchase values more than
    // 1.5σ from the user's mean, in cleared-denominator long arithmetic —
    // bit-identical across engines where a float mean/std pipeline is
    // aggregation-order dependent.
    "q_outliers" -> Q(
      (s, dir) => graft.operators.Analytics.flagOutliers(
        events(s, dir)
          .withColumn("cents", round(col("value") * 100).cast("long")),
        Seq("user_id"), col("cents"), kNum = 3, kDen = 2)
        .filter(col("outlier") === 1)
        .select("event_id", "user_id", "cents", "n"),
      Some("""
        WITH c AS (SELECT event_id, user_id,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        st AS (SELECT user_id, count(cents) AS n, sum(cents) AS s,
                 sum(cents * cents) AS sq FROM c GROUP BY 1)
        SELECT event_id, user_id, cents, n
        FROM c JOIN st USING (user_id)
        WHERE n >= 2
          AND 4 * (n * cents - s) * (n * cents - s) > 9 * (n * sq - s * s)""")),
  )
}
