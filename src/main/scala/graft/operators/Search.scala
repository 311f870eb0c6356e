package graft.operators

import graft.functions.{TextFunctions, TopN}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranked keyword retrieval over a document corpus — the "find me the
  * relevant documents" primitive of corpus exploration, eval-set mining,
  * and targeted-slice extraction.
  *
  * Scoring is standard BM25 (Robertson–Spärck Jones, the Lucene "plus one"
  * idf variant, so idf is always positive):
  *
  *   score(D,Q) = Σ_{t∈Q∩D} ln(1 + (N − df + 0.5)/(df + 0.5))
  *                · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Plan shape at 100 TB: the corpus explodes to (doc, token) postings but
  * the query-term filter lands IMMEDIATELY inside the same select — only
  * postings of the |Q| query terms (a vanishing fraction of the corpus)
  * survive the scan stage, so the per-(doc,term) tf aggregate and
  * everything after it is query-sized, not corpus-sized. The corpus-wide
  * statistics (N, total token count → avgdl) come from one separate
  * map-side-combined aggregate producing a SINGLE row that broadcasts; the
  * per-term df table is ≤|Q| rows and broadcasts likewise. The final top-k
  * is a TakeOrdered (bounded heap, no global sort).
  */
object Search {

  /** Top-`k` documents by BM25 over `queryTerms` (caller supplies terms in
    * the token dialect of [[TextFunctions.tokens]] — lowercase,
    * whitespace-split). Output: (id, rank, n_terms, sum_tf, dl) plus the
    * double `score`.
    *
    * Ties break on ascending id, so ranks are total and deterministic.
    * NOTE for cross-engine gating: `score` is a sum of `ln` terms and may
    * differ in the last ulp between libms; rank flips need a near-exact
    * score collision between documents with DIFFERENT integer stats
    * (identical stats produce identical scores on any one engine, so ties
    * resolve by id identically everywhere). Gate rows should project the
    * integer columns (the [[Sampling.weightedSample]] precedent).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val terms = queryTerms.distinct
    // postings of the query terms only — the filter sits in the scan stage
    val tf = docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    // per-term document frequency (≤ |Q| rows)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // corpus-wide N and avgdl: one single-row aggregate, broadcast by AQE
    val lens = docs.select(col(idCol).as("id"),
      TextFunctions.tokenCount(col(textCol)).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val nd = col("n_docs").cast("double")
    val avgdl = col("total_dl").cast("double") / nd
    val idf = log((nd - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5) + 1.0)
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val termScore = idf * (tfd * (k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * dld / avgdl))
    val perDoc = tf.join(dfreq, "token").join(lens, "id").crossJoin(stats)
      .groupBy("id")
      .agg(sum(termScore).as("score"),
        count(lit(1)).as("n_terms"),
        sum(col("tf")).as("sum_tf"),
        max(col("dl")).as("dl"))
    val top = perDoc
      .orderBy(col("score").desc, col("id"))
      .limit(k)
    // rank within the already-bounded k rows: the window is k-rows-wide,
    // not corpus-wide, so the single-partition sort is O(k)
    top.withColumn("rank",
        // constant partition key: the global rank is over the k-row top
        // table (bounded), and the explicit single-partition intent keeps
        // WindowExec's "no partition defined" WARN out of the bench log
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "rank", "n_terms", "sum_tf", "dl", "score")
  }

  /** The corpus-side inverted-postings table (token → sorted doc ids with
    * tf), for persisting under [[IndexRoot]] and re-serving many queries
    * without re-exploding the corpus: the nightly-index shape of
    * [[bm25TopK]]. Output: (token, df, postings:array<struct<id,tf>>).
    * Zipf guard: `maxPostings` caps each token's list (most-frequent docs
    * kept, deterministic ties) so stopword rows cannot balloon a single
    * aggregation buffer; capped tokens are near-useless for ranking anyway
    * (their idf ≈ 0).
    */
  def invertedPostings(docs: DataFrame, idCol: String, textCol: String,
                       maxPostings: Int = 10000): DataFrame = {
    val tf = docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("token", "id").agg(count(lit(1)).as("tf"))
    tf.groupBy("token")
      .agg(count(lit(1)).as("df"),
        TopN.rows(struct(col("id"), col("tf")),
          struct((-col("tf")).as("neg_tf"), col("id")),
          maxPostings, isMax = false).as("postings"))
  }

  /** A persisted BM25 index: [[invertedPostings]] plus the per-document
    * token lengths (the two tables [[bm25TopKIndexed]] serves from).
    */
  final case class BmIndex(lengths: DataFrame, postings: DataFrame)

  /** Build the serving tables for [[bm25TopKIndexed]] — one corpus pass
    * for the lengths, one explode+two-aggregate pass for the postings.
    * Persist both under [[IndexRoot]] for the build-once/serve-many shape
    * (the [[Dedup.minhashBandIndex]] contract).
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     maxPostings: Int = 10000): BmIndex =
    BmIndex(
      docs.select(col(idCol).as("id"),
        TextFunctions.tokenCount(col(textCol)).as("dl")),
      invertedPostings(docs, idCol, textCol, maxPostings))

  /** [[buildBm25Index]] memoized to its persisted parquet layout — built
    * ONCE per (JVM, cacheKey, maxPostings) under `spark.graft.indexDir`
    * ([[IndexRoot]]) and re-read from disk, so every query served in the
    * JVM's lifetime reuses one corpus pass (the
    * [[Dedup.minhashIndexFor]] nightly-index contract). Serving then
    * never touches the corpus: [[bm25TopKIndexed]] reads ≤ |Q| postings
    * rows from the persisted table.
    */
  def bm25IndexFor(docs: => DataFrame, cacheKey: String,
                   idCol: String, textCol: String,
                   maxPostings: Int = 10000): BmIndex = {
    val fullKey = s"$cacheKey|id=$idCol|txt=$textCol|mp=$maxPostings"
    lazy val built = buildBm25Index(docs, idCol, textCol, maxPostings)
    BmIndex(IndexRoot.table("bm25_len", fullKey)(built.lengths),
      IndexRoot.table("bm25_post", fullKey)(built.postings))
  }

  /** [[bm25TopK]] served FROM the persisted index: reads ≤ |Q| postings
    * rows (token-keyed — with the postings parquet bucketed or sorted by
    * token this is a pruned point lookup, never a corpus scan), explodes
    * only the matched postings, joins document lengths for the candidates
    * and runs the same scoring formula. Equal to the scan path whenever no
    * matched token overflowed `maxPostings` (spec-pinned); an overflowed
    * token contributes its top-`maxPostings` docs only — the standard
    * impact-ordered-index approximation, and those tokens carry idf ≈ 0.
    */
  def bm25TopKIndexed(index: BmIndex, queryTerms: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKIndexed: empty query")
    val terms = queryTerms.distinct
    val matched = index.postings.filter(col("token").isin(terms: _*))
    val tf = matched.select(col("token"), col("df"),
        explode(col("postings")).as("__p"))
      .select(col("token"), col("df"),
        col("__p.id").as("id"), col("__p.tf").as("tf"))
    val stats = index.lengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val nd = col("n_docs").cast("double")
    val avgdl = col("total_dl").cast("double") / nd
    val idf = log((nd - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5) + 1.0)
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val termScore = idf * (tfd * (k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * dld / avgdl))
    val perDoc = tf.join(index.lengths, "id").crossJoin(stats)
      .groupBy("id")
      .agg(sum(termScore).as("score"),
        count(lit(1)).as("n_terms"),
        sum(col("tf")).as("sum_tf"),
        max(col("dl")).as("dl"))
    val top = perDoc.orderBy(col("score").desc, col("id")).limit(k)
    top.withColumn("rank",
        // constant partition key: the global rank is over the k-row top
        // table (bounded), and the explicit single-partition intent keeps
        // WindowExec's "no partition defined" WARN out of the bench log
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "rank", "n_terms", "sum_tf", "dl", "score")
  }

  /** Retrieval-quality metrics at cutoff `k` — the eval loop that closes
    * the serving tier: given ranked results and relevance judgments
    * (qrels), score each judged query with the standard binary-relevance
    * set: hits@k, precision@k, recall@k and reciprocal rank.
    *
    * All metrics are EXACT integer parts-per-million (`x_ppm =
    * floor(1e6·x)`), never floats: a metric dashboard diffed across
    * engines or reruns must be bit-stable, and every one of these is a
    * ratio of small integers (the [[graft.operators.Analytics]]
    * cleared-denominator discipline). nDCG is deliberately absent — its
    * log2 discounts are transcendental and would re-open the cross-engine
    * ulp door this table exists to keep shut; RR is the monotone
    * rank-position signal with exact arithmetic.
    *
    * Semantics (trec_eval conventions):
    *  - one output row per query that has at least one qrel — unjudged
    *    queries in `results` are dropped, judged queries missing from
    *    `results` score zero;
    *  - `n_rel` counts ALL judged-relevant docs (also beyond the cutoff) —
    *    the recall denominator;
    *  - `precision_ppm` divides by the CUTOFF `k`, not by the retrieved
    *    count: returning fewer than k docs does not inflate precision;
    *  - `rr_ppm = floor(1e6 / rank of the first relevant result)`, 0 when
    *    no relevant doc was retrieved at ≤ k;
    *  - duplicate qrel pairs count once.
    *
    * Plan shape at 100 TB: `results` is top-k bounded per query by its
    * retriever (lists-sized — the [[rrfFuse]] input contract) and qrels
    * are an eval suite (thousands of rows), so every join and aggregate
    * here is eval-sized; nothing touches a corpus. The joins are
    * id+query-keyed equi-joins that AQE broadcasts.
    */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame, k: Int,
                       queryCol: String = "query_id", idCol: String = "id",
                       rankCol: String = "rank"): DataFrame = {
    require(k >= 1, "retrievalMetrics: k must be >= 1")
    val res = results.select(col(queryCol).as("query_id"),
        col(idCol).as("id"), col(rankCol).cast("long").as("__rank"))
      .filter(col("__rank") <= k)
    val qr = qrels.select(col(queryCol).as("query_id"), col(idCol).as("id"))
      .distinct()
    val rel = qr.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val ret = res.groupBy("query_id").agg(count(lit(1)).as("n_ret"))
    val hit = res.join(qr, Seq("query_id", "id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits"), min(col("__rank")).as("__first_rel"))
    rel.join(ret, Seq("query_id"), "left")
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("__first_rel"))
      // integral `div`, never floor(a/b) on doubles (the q_pack_budget
      // boundary-misround lesson); n_rel >= 1 by construction (the query
      // came from qrels) and __first_rel >= 1 when present
      .selectExpr("query_id", "n_rel", "n_ret", "hits",
        s"hits * CAST(1000000 AS BIGINT) div CAST($k AS BIGINT) AS precision_ppm",
        "hits * CAST(1000000 AS BIGINT) div n_rel AS recall_ppm",
        "CASE WHEN __first_rel IS NOT NULL THEN CAST(1000000 AS BIGINT) div __first_rel " +
          "ELSE CAST(0 AS BIGINT) END AS rr_ppm")
  }

  /** HYBRID retrieval: reciprocal-rank fusion (Cormack/Clarke/Büttcher,
    * SIGIR'09) of independently ranked lists — the standard way to merge a
    * lexical (BM25) and a dense (embedding-cosine) ranking without score
    * calibration:
    *
    *   rrf(d) = Σ_lists 1 / (c + rank_list(d)),   absent list → 0
    *
    * Inputs are (id, rank) tables that are ALREADY top-K bounded by their
    * retrievers (a rank list the size of the corpus is a retriever bug,
    * not a fusion input), so everything here — the union, the per-id
    * pivot, the fused sort — is lists-sized, not corpus-sized: at 100 TB
    * the heavy lifting stays in the upstream retrievers' pruned scans and
    * fusion is a few-hundred-row epilogue.
    *
    * Cross-engine determinism: the score is pure rational arithmetic (no
    * transcendentals), and the per-list terms are summed in FIXED
    * left-to-right list order via pivoted rank columns — never a float
    * `sum()` whose association could vary with partitioning — so any IEEE
    * engine reproduces the exact bits. Ties (e.g. two docs holding each
    * other's ranks across two lists) break on ascending id.
    *
    * Output: (id, rank, rank_0..rank_{n-1}, rrf) — fused rank, each
    * list's rank (null where absent), and the fused score.
    */
  def rrfFuse(ranked: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int, c: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse: no ranked lists")
    require(k >= 1 && c >= 1, "rrfFuse: k and c must be >= 1")
    val tagged = ranked.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol).as("id"), col(rankCol).cast("long").as("__rank"),
        lit(i).as("__list"))
    }.reduce(_ unionByName _)
    // one row per (id, list) — the retriever contract says ids are unique
    // WITHIN a list, and a violation must fail loudly, not fuse a quietly
    // wrong score: the per-group count is checked inline (raise_error) so
    // a buggy retriever surfaces as an error, at the cost of one count on
    // k-bounded lists
    val perList = tagged.groupBy("id", "__list")
      .agg(max(col("__rank")).as("__r"), count(lit(1)).as("__n"))
      .select(col("id"), col("__list"),
        when(col("__n") === 1, col("__r")).otherwise(raise_error(concat(
          lit("rrfFuse: id "), col("id").cast("string"),
          lit(" appears more than once in ranked list "),
          col("__list").cast("string"),
          lit(" — retriever lists must be id-unique")))).as("__rank"))
    val pivoted = perList.groupBy("id")
      .pivot("__list", ranked.indices.map(i => i: Integer))
      .agg(max(col("__rank")))
      .toDF("id" +: ranked.indices.map(i => s"rank_$i"): _*)
    val score = ranked.indices.map { i =>
      val r = col(s"rank_$i")
      when(r.isNotNull, lit(1.0) / (lit(c).cast("double") + r.cast("double")))
        .otherwise(lit(0.0))
    }.reduce(_ + _) // left-to-right by construction of reduce
    val top = pivoted.withColumn("rrf", score)
      .orderBy(col("rrf").desc, col("id")).limit(k)
    top.withColumn("rank",
        // k-row bounded global rank — same intent note as bm25TopK above
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("rrf").desc, col("id"))).cast("long"))
      .select(col("id") +: col("rank") +:
        ranked.indices.map(i => col(s"rank_$i")) :+ col("rrf"): _*)
  }
}
