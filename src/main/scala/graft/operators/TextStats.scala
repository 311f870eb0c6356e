package graft.operators

import graft.functions.{TextFunctions, TopN}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level token statistics — vocabulary mining over a document table.
  */
object TextStats {

  /** The `k` most frequent tokens per group (e.g. per language), with
    * deterministic ordering: count descending, token ascending.
    *
    * Two bounded aggregations, no windows: explode → per-(group, token)
    * count (partial map-side combine collapses repeated tokens before the
    * shuffle) → per-group bounded TopN heap ([[graft.functions.TopNRows]],
    * map-side again). The token universe never sorts in full anywhere —
    * a `row_number` window over (group ORDER BY cnt) would sort every
    * group's whole vocabulary in one task.
    */
  def topTokensPerGroup(df: DataFrame, groupCols: Seq[String], text: Column,
                        k: Int): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val toks = df.select(
      groupCols.map(col) :+ explode(TextFunctions.tokens(text)).as("token"): _*)
    val counts = toks.groupBy((groupCols :+ "token").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(groupCols.map(col): _*)
      .agg(TopN.rows(
        struct(col("token"), col("cnt")),
        struct((-col("cnt")).as("neg_cnt"), col("token")),
        k, isMax = false).as("__top"))
      .select(groupCols.map(col) :+ posexplode(col("__top")).as(Seq("__pos", "__t")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__t.token").as("token"), col("__t.cnt").as("cnt"),
        (col("__pos") + 1).cast("long").as("rank")): _*)
  }

  /** Per-document CHARACTER-CLASS counts — the encoding-health signal of
    * a crawl pipeline (mojibake, binary-in-text, template sludge): exact
    * integer counts of letters, digits, whitespace, non-ASCII characters,
    * Unicode replacement characters (U+FFFD — the smoking gun of a
    * mis-decoded byte stream), and C0 control characters (excluding
    * tab/newline/CR). Counts, not ratios, on purpose: integers compare
    * exactly across engines and the caller picks its own thresholds
    * (`n_replacement > 0` alone is a strong drop rule). One narrow
    * codegen'd projection — six `regexp_count`s over the row, no shuffle,
    * pushdown-friendly like any scan predicate.
    */
  def charClassCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pattern: String): Column =
      regexp_count(col(textCol), lit(pattern)).cast("long")
    df.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      cnt("[A-Za-z]").as("n_letter"),
      cnt("[0-9]").as("n_digit"),
      // explicit class, NOT \s: Java's \s includes U+000B where RE2's
      // does not (the one char the engines disagree on), and the
      // text-legitimate whitespace for this signal is exactly these
      // four — VT/FF stay in n_control where a crawl wants them flagged
      cnt("[ \\t\\n\\r]").as("n_space"),
      cnt("[^\\x00-\\x7F]").as("n_nonascii"),
      cnt("�").as("n_replacement"),
      cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_control"))
  }

  /** Per-document REPETITION signals — the standard pretraining quality
    * filters for boilerplate/spam (the "repetition rules" family):
    *
    *  - `dup_line_frac`: fraction of the document's newline-separated
    *    non-blank lines that are repeats of an earlier line
    *    (`1 − distinct/total`; 0 for ≤1 line). Pure narrow array
    *    arithmetic — `array_distinct` is linear per row, no shuffle.
    *  - `top_bigram_frac`: occurrences of the most frequent word bigram
    *    over total bigrams (0 when < 2 tokens). Computed DISTRIBUTED:
    *    explode bigrams → per-(doc, bigram) count (map-side combine
    *    collapses repeats before the shuffle) → per-doc max — two hash
    *    aggregations, never an O(tokens²) per-row loop, so a single
    *    pathological 10⁶-token document cannot stall a task.
    *
    * Output: (id, n_lines, dup_line_frac, n_bigrams, top_bigram_frac);
    * documents with no tokens/lines keep zeros (never dropped here —
    * thresholding is the caller's policy).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => trim(l) =!= "")
    val lineStats = df.select(col(idCol).as("id"),
        size(lines).as("n_lines"),
        size(array_distinct(lines)).as("__n_distinct"))
      .select(col("id"), col("n_lines").cast("long").as("n_lines"),
        when(col("n_lines") > 0,
          (col("n_lines") - col("__n_distinct")).cast("double") / col("n_lines"))
          .otherwise(lit(0.0)).as("dup_line_frac"))
    val toks = TextFunctions.tokens(col(textCol))
    val bigrams = df.select(col(idCol).as("id"), toks.as("__toks"))
      // guard BEFORE sequence(): sequence(1, size-1) with size < 2 would
      // generate a DESCENDING range, not an empty one
      .filter(size(col("__toks")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("__toks")) - 1),
        i => concat_ws(" ", element_at(col("__toks"), i),
          element_at(col("__toks"), i + 1)))).as("bigram"))
    val topBigram = bigrams.groupBy("id", "bigram")
      .agg(count(lit(1)).as("__cnt"))
      .groupBy("id")
      .agg(sum(col("__cnt")).as("n_bigrams"), max(col("__cnt")).as("__max"))
      .select(col("id").as("__bid"), col("n_bigrams"),
        (col("__max").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
    lineStats.join(topBigram, col("id") === col("__bid"), "left")
      .select(col("id"), col("n_lines"), col("dup_line_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Thresholds for [[qualityRuleSignals]] — the heuristic document-quality
    * rule family from published web-corpus pipelines (Gopher's quality
    * filters, Rae et al. 2021; C4's heuristics, Raffel et al. 2020).
    * Defaults are the commonly published ones; every battery/test use sets
    * them explicitly.
    */
  final case class QualityRules(
      minTokens: Long = 50, maxTokens: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      minAlphaFrac: Double = 0.8, minStopwordHits: Long = 2)

  /** Per-document HEURISTIC QUALITY-RULE signals + keep decision — the
    * standard Gopher/C4-style pre-filter that runs before any model-based
    * scoring at corpus scale:
    *
    *  - `n_tokens`: whitespace token count (bounds catch fragments and
    *    concatenation blobs);
    *  - `mean_word_len`: mean token length in chars (OCR noise and
    *    codes/URLs fall outside [3, 10]);
    *  - `symbol_ratio`: (`#` chars + `...` runs) per token (template/paste
    *    artifacts);
    *  - `bullet_frac`: fraction of lines starting with a bullet
    *    (`-`, `*`, `•`) — navigation/listing pages;
    *  - `alpha_frac`: fraction of tokens containing a Latin letter
    *    (binary junk, digit tables);
    *  - `stopword_hits`: occurrences from the common-English stopword list
    *    (fluency floor);
    *  - `keep`: 1 iff every rule passes (INT, not BOOLEAN, so engines hash
    *    the same representation).
    *
    * One narrow projection — tokenize once, every signal derives from the
    * same pass; all numerators are integers and every division happens once
    * at the end, so two engines computing these signals agree bit-for-bit.
    * No shuffle at all: this filter runs at parquet-scan speed over 100 TB.
    */
  def qualityRuleSignals(df: DataFrame, idCol: String, textCol: String,
                         rules: QualityRules = QualityRules()): DataFrame = {
    val counts = df.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"),
        split(col(textCol), "\n").as("__lines"),
        (regexp_count(col(textCol), lit("#")) +
          regexp_count(col(textCol), lit("\\.\\.\\."))).cast("long").as("__sym"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(col("__toks"), lit(0L), (a, t) => a + length(t)).as("__charsum"),
        size(filter(col("__toks"), t => t.rlike("[a-z]"))).cast("long").as("__alpha"),
        size(filter(col("__toks"), t => t.isin(TextFunctions.stopwordsEn: _*)))
          .cast("long").as("stopword_hits"),
        col("__sym"),
        size(col("__lines")).cast("long").as("__nlines"),
        size(filter(col("__lines"), l => l.rlike("^\\s*[-*•]")))
          .cast("long").as("__bullets"))
    val signals = counts.select(col(idCol), col("n_tokens"),
      when(col("n_tokens") > 0, col("__charsum").cast("double") / col("n_tokens"))
        .otherwise(lit(0.0)).as("mean_word_len"),
      when(col("n_tokens") > 0, col("__sym").cast("double") / col("n_tokens"))
        .otherwise(lit(0.0)).as("symbol_ratio"),
      // split() yields >= 1 line for any non-null text, so no zero guard
      (col("__bullets").cast("double") / col("__nlines")).as("bullet_frac"),
      when(col("n_tokens") > 0, col("__alpha").cast("double") / col("n_tokens"))
        .otherwise(lit(0.0)).as("alpha_frac"),
      col("stopword_hits"))
    signals.withColumn("keep",
      (col("n_tokens").between(rules.minTokens, rules.maxTokens) &&
        col("mean_word_len").between(rules.minMeanWordLen, rules.maxMeanWordLen) &&
        col("symbol_ratio") <= rules.maxSymbolRatio &&
        col("bullet_frac") <= rules.maxBulletFrac &&
        col("alpha_frac") >= rules.minAlphaFrac &&
        col("stopword_hits") >= rules.minStopwordHits).cast("int"))
  }

  /** SALIENT TERMS per document: the `k` tokens ranked by (term frequency
    * DESC, document frequency ASC, token ASC) — "most frequent rarest" —
    * the keyword-extraction stage of corpus exploration.
    *
    * The lexicographic (tf, −df) rank is deliberately used INSTEAD of the
    * tf·ln(N/df) product: it needs no floating-point log (whose last-ulp
    * bits differ between libms, so two engines could disagree on ranks at
    * exact score ties), every comparison is integer-exact, and the raw
    * (tf, df) pair is returned so callers wanting true tf-idf scores can
    * apply any idf curve offline. Note it is NOT order-equivalent to
    * tf·idf across different tf values (a rarer term never outranks a more
    * frequent one here) — it is a deterministic screening rank, not a
    * relevance score.
    *
    * Plan shape: explode → per-(doc, token) count (map-side combine) →
    * vocabulary df aggregate (Zipf-small, map-side combine) → SKEW-SPLIT
    * token join → per-doc bounded TopN heap
    * ([[graft.functions.TopNRows]]). No windows: a `row_number`
    * formulation would sort every document's whole vocabulary inside
    * single tasks.
    *
    * THE SKEW SPLIT (output-identical to a plain `tf ⋈ dfreq` join): a
    * raw token-keyed shuffle join puts a stop-token's corpus-sized tf
    * rows on ONE shuffle partition — the classic Zipf-key skew, measured
    * 4.5× wall at 10× data. Instead the df table splits into the HEAD —
    * the `headTokens` highest-df tokens, bounded by construction, so its
    * broadcast never outgrows the driver — and the TAIL (everything
    * else). tf rows broadcast-left-join the head map-side (the skewed
    * keys, by Zipf's law, are exactly the head — they never shuffle);
    * only head-miss rows shuffle against the tail, where the worst key
    * carries at most the (headTokens+1)-th token's df rows (≈ corpus
    * tokens / headTokens under Zipf — AQE's skew-join split covers the
    * residue). When the whole vocabulary fits in `headTokens` the tail
    * is empty and the operator is a pure map-side join. The head
    * boundary is deterministic ((df desc, token) is a total order), and
    * head ∪ tail partition the vocabulary, so the union equals the plain
    * inner join row-for-row.
    *
    * The tf table is persisted (it feeds the df aggregate and both join
    * branches — without it the corpus tokenizes three times), and so is
    * the Zipf-small df table.
    */
  def salientTerms(df: DataFrame, idCol: String, textCol: String, k: Int,
                   headTokens: Int = 65536): DataFrame = {
    def mat(d: DataFrame) =
      d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = mat(df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf")))
    val dfreq = mat(tf.groupBy("token").agg(count(lit(1)).as("df")))
    // head is consumed twice (the broadcast join + the tail anti-join) —
    // persist the tiny TakeOrdered result so it computes once
    val head = mat(dfreq.orderBy(col("df").desc, col("token")).limit(headTokens))
    val tail = dfreq.join(broadcast(head.select("token")), Seq("token"), "left_anti")
    val withHead = tf.join(broadcast(head), Seq("token"), "left")
    val joined = withHead.filter(col("df").isNotNull)
      .unionByName(withHead.filter(col("df").isNull).drop("df")
        .join(tail, Seq("token")))
    joined
      .groupBy("id")
      .agg(TopN.rows(
        struct(col("token"), col("tf"), col("df")),
        struct((-col("tf")).as("neg_tf"), col("df"), col("token")),
        k, isMax = false).as("__top"))
      .select(col("id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("id"), col("__t.token").as("token"), col("__t.tf").as("tf"),
        col("__t.df").as("df"), (col("__pos") + 1).cast("long").as("rank"))
  }

  /** CLUSTER KEYWORDS — corpus-exploration labeling for an embedding
    * clustering (IVF assignments, semantic-dedup clusters, any
    * (id, cluster) table): per cluster, the top-`k` tokens by
    * (cluster tf DESC, global df ASC, token) — the [[salientTerms]]
    * ranking lifted from documents to clusters, so a 10⁵-cluster corpus
    * map reads as "cluster 17 ≈ {spark, shuffle, executor}". Integer
    * sufficient statistics only ([[salientTerms]]' ulp argument); the
    * (tf, df) pair ships for offline tf-idf curves.
    *
    * Plan shape: the docs⋈assignments id-keyed equi-join runs BEFORE the
    * explode (never multiply exploded rows through a join), per-cluster
    * tf is one map-combined aggregate bounded by Σ cluster vocabularies,
    * the global-df join reuses [[salientTerms]]' head/tail skew split
    * (the Zipf head broadcasts — a stop-token's tf rows never hash to
    * one shuffle partition), and per-cluster top-k collapses in the
    * bounded [[graft.functions.TopN]] heap — no window sort.
    */
  def clusterKeywords(docs: DataFrame, idCol: String, textCol: String,
                      assignments: DataFrame, assignIdCol: String,
                      clusterCol: String, k: Int,
                      headTokens: Int = 65536): DataFrame = {
    val perDoc = docs.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("__tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = perDoc
      .join(assignments.select(col(assignIdCol).as("id"),
        col(clusterCol).as("cluster")), "id")
      .groupBy("cluster", "token").agg(sum(col("__tf")).as("tf"))
    val dfreq = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val head = dfreq.orderBy(col("df").desc, col("token")).limit(headTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tail = dfreq.join(broadcast(head.select("token")), Seq("token"), "left_anti")
    val withHead = tf.join(broadcast(head), Seq("token"), "left")
    val joined = withHead.filter(col("df").isNotNull)
      .unionByName(withHead.filter(col("df").isNull).drop("df")
        .join(tail, Seq("token")))
    joined
      .groupBy("cluster")
      .agg(graft.functions.TopN.rows(
        struct(col("token"), col("tf"), col("df")),
        struct((-col("tf")).as("neg_tf"), col("df"), col("token")),
        k, isMax = false).as("__top"))
      .select(col("cluster"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("cluster"), col("__t.token").as("token"),
        col("__t.tf").as("tf"), col("__t.df").as("df"),
        (col("__pos") + 1).cast("long").as("rank"))
  }

  /** DSIR-STYLE importance statistics (the data-selection primitive of
    * "Data Selection for Language Models via Importance Resampling", Xie
    * et al. 2023): per raw-corpus document, the integer sufficient
    * statistics of the hashed-n-gram likelihood ratio between a TARGET
    * corpus (the distribution you want more of) and the raw corpus:
    *
    *  - `n_grams`: the document's distinct word n-grams;
    *  - `sum_target_cnt` / `sum_corpus_cnt`: Σ over those grams of the
    *    gram's occurrence count in the target / raw corpus (a gram = one
    *    count per document that contains it, the distinct-gram convention
    *    of [[graft.functions.HashedShingles]]);
    *  - `n_unseen_target`: grams the target corpus has never seen.
    *
    * ALL-INTEGER on purpose (the [[tokenRarity]] argument): exact and
    * aggregation-order-free on every engine; the importance weight
    * Σ log(p_target/p_raw) is one log away offline, where smoothing and
    * temperature are policy anyway.
    *
    * Plan shape: grams travel as 64-bit hashes (8 bytes, never strings —
    * the q_dedup_ngram collision argument), both count tables are
    * Zipf-small hash aggregates with map-side combine, and the two joins
    * are gram-keyed equi-joins (target table is eval-suite-sized → AQE
    * broadcasts it; the raw vocabulary is the one genuinely large side
    * and shuffles once).
    */
  def importanceStats(docs: DataFrame, idCol: String, textCol: String,
                      target: DataFrame, targetTextCol: String,
                      ngramSize: Int = 2): DataFrame =
    importanceStatsFromCounts(docs, idCol, textCol,
      gramCounts(docs, textCol, ngramSize),
      gramCounts(target, targetTextCol, ngramSize), ngramSize)

  /** The (hashed gram, containing-doc count) VOCABULARY table of a corpus
    * — the Zipf-small aggregate both DSIR count sides are built from.
    */
  def gramCounts(df: DataFrame, textCol: String, ngramSize: Int): DataFrame =
    df.select(
        explode(graft.functions.HashedShingles.column(col(textCol), ngramSize))
          .as("__g"))
      .groupBy("__g").agg(count(lit(1)).as("__cnt"))

  /** [[gramCounts]] memoized to its persisted parquet layout (the
    * `Search.bm25IndexFor` build-once/serve-many contract): the raw-corpus
    * vocabulary is built once per corpus snapshot and the target
    * vocabulary once per suite release; every importance-scoring run
    * joins the stored (gram, count) longs instead of re-shingling either
    * corpus.
    *
    * FRESHNESS: the corpus fingerprint (driver-side file stats — see
    * [[Curation.corpusFingerprint]]) is folded into the memo key, so a
    * corpus regenerated in place under the same `cacheKey` keys a rebuild
    * instead of serving stale counts. Forces `df` on every call (cheap:
    * file metadata only for file sources).
    */
  def gramCountsFor(df: => DataFrame, cacheKey: String, textCol: String,
                    ngramSize: Int = 2): DataFrame = {
    val d = df
    IndexRoot.table(s"gramcnt$ngramSize",
      s"$cacheKey|txt=$textCol|fp=${Curation.corpusFingerprint(d)}")(
      gramCounts(d, textCol, ngramSize))
  }

  /** [[importanceStats]] from prebuilt raw/target vocabulary tables
    * ([[gramCounts]] / [[gramCountsFor]]) — the per-run work is exactly
    * one shingle pass over `docs` plus the two gram-keyed joins.
    */
  def importanceStatsFromCounts(docs: DataFrame, idCol: String, textCol: String,
                                rawCounts: DataFrame, targetCounts: DataFrame,
                                ngramSize: Int = 2): DataFrame = {
    val docGrams = docs.select(col(idCol).as("id"),
      explode(graft.functions.HashedShingles.column(col(textCol), ngramSize))
        .as("__g"))
    val rawCnt = rawCounts.select(col("__g"), col("__cnt").as("__raw_cnt"))
    val targetCnt = targetCounts.select(col("__g"), col("__cnt").as("__tgt_cnt"))
    docGrams
      .join(rawCnt, "__g")
      .join(targetCnt, Seq("__g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__tgt_cnt"), lit(0L))).as("sum_target_cnt"),
        sum(col("__raw_cnt")).as("sum_corpus_cnt"),
        sum(when(col("__tgt_cnt").isNull, 1L).otherwise(0L)).as("n_unseen_target"))
  }

  /** CORPUS-FREQUENCY rarity profile per document — the join-based
    * perplexity-proxy quality signal (documents dominated by tokens the
    * corpus has never seen again are OCR garbage / codes / spam; documents
    * of only ultra-common tokens are boilerplate):
    *
    *  - `n_tokens`: occurrences in the document (duplicates count);
    *  - `sum_token_cnt`: Σ over occurrences of the token's CORPUS count
    *    (normalize offline: avg corpus frequency = sum/n);
    *  - `min_cnt`: the rarest token's corpus count;
    *  - `n_hapax`: occurrences whose token appears exactly once corpus-wide.
    *
    * All-INTEGER aggregates on purpose: exact and aggregation-order-free
    * on every engine (a log-prob sum of doubles would be partition-order
    * dependent; take logs of the returned sums offline). Two hash
    * aggregations + one (token → corpus count) join; the vocabulary is
    * Zipf-small relative to the corpus, and map-side combine collapses
    * repeated tokens before both shuffles. Documents with zero tokens do
    * not appear.
    */
  def tokenRarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("__cnt"))
    toks.join(vocab, "token")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__cnt")).as("sum_token_cnt"),
        min(col("__cnt")).as("min_cnt"),
        sum(when(col("__cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
  }

  /** MODEL-BASED quality classification — the learned companion to the
    * heuristic [[qualityRuleSignals]]: a fastText-style linear classifier
    * over HASHED unigram+bigram bag-of-words features (Joulin et al.
    * 2016), the standard "quality model" stage of a pretraining pipeline
    * (trained on a small labeled set, applied to the whole crawl).
    *
    * `weights` is (bucket BIGINT, w_q16 BIGINT): per-bucket weights
    * QUANTIZED to Q16 fixed-point (w·2¹⁶ rounded at training time —
    * [[graft.tools.QualityTrain]] writes this format), with the bias as
    * the `bucket = -1` row. Integer weights on purpose: the per-document
    * logit is then an exact BIGINT sum, aggregation-order-free on every
    * engine (a float dot product differs between partitionings, let alone
    * engines); `sigmoid(logit_q16 / 65536.0)` is one exp away offline,
    * and the keep DECISION (`logit ≥ threshold`) is integer-exact here.
    *
    * Feature hashing is the [[Sampling.assignSplit]] md5 contract
    * (`first-8-hex(md5(feature)) % nBuckets`) — reproducible across runs,
    * engines, and training/serving skew; `nBuckets` must match training.
    *
    * Plan shape at 100 TB: features explode corpus-side but collapse
    * straight into a per-doc hash aggregate after a BROADCAST join against
    * the weight table (≤ nBuckets rows by construction — fastText's whole
    * point is that the model stays tiny); no shuffle carries a feature
    * string, documents without features keep the bias logit via the final
    * left join.
    */
  def modelQualityScore(docs: DataFrame, idCol: String, textCol: String,
                        weights: DataFrame, nBuckets: Int,
                        thresholdQ16: Long = 0L): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("__t"))
    // unigrams ++ bigrams in ONE array so the text tokenizes and explodes
    // once (a union of two selects scans the corpus twice)
    val bigrams = transform(
      slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
      (x, i) => concat(x, lit(" "), element_at(col("__t"), i + 2)))
    val feats = toks
      .select(col("id"), explode(concat(col("__t"), bigrams)).as("__f"))
      .select(col("id"), (Sampling.hashLong(col("__f")) % nBuckets).as("__b"))
    val featWeights = broadcast(
      weights.filter(col("bucket") >= 0).select(col("bucket"), col("w_q16")))
    val summed = feats.join(featWeights, col("__b") === col("bucket"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("w_q16"), lit(0L))).as("__sw"))
    // aggregate, not filter+select: a weights table WITHOUT a bias row
    // would make the cross join silently return zero rows — sum-over-empty
    // coalesces to bias 0 instead
    val bias = broadcast(
      weights.filter(col("bucket") === -1)
        .agg(coalesce(sum(col("w_q16")), lit(0L)).as("__bias")))
    docs.select(col(idCol).as("id")).join(summed, Seq("id"), "left")
      .crossJoin(bias)
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        (col("__bias") + coalesce(col("__sw"), lit(0L))).as("logit_q16"))
      .withColumn("keep", (col("logit_q16") >= thresholdQ16).cast("int"))
  }

  /** BIGRAM-LM "perplexity" filter (the CCNet-family idea: score each
    * document under a language model trained on the corpus itself; flag
    * the tails). The per-bigram surprisal is measured in EXACT INTEGER
    * BITS: for each adjacent pair (w1, w2),
    *
    *   cost = bitlen(C(w1·) + V) − bitlen(C(w1,w2))
    *
    * where C(w1,w2) is the corpus bigram count, C(w1·) the prefix count,
    * V the distinct-unigram vocabulary size (the +V add-one-smoothing
    * denominator), and bitlen(x) = length of x's binary representation —
    * an integer ⌈log2⌉ both Spark (`bin`) and any SQL engine compute
    * bit-identically, unlike `ln` (whose libm rounding differs across
    * platforms — the reason the score is bits, not nats). Per document:
    * `n_bigrams`, total `bit_cost`, `milli_bits` = cost·1000 div n (the
    * filterable per-bigram surprisal), and `keep` = milli_bits ≤
    * threshold. Documents with < 2 tokens carry zero cost and keep=1
    * (thresholding tails is the policy here; short-doc policy is
    * [[qualityRuleSignals]]').
    *
    * Plan shape at 100 TB: ONE tokenize+explode pass — the hashed pair
    * table persists and feeds all three consumers (bigram counts, prefix
    * counts, the scoring join); without the barrier the corpus would
    * re-tokenize once per consumer. Bigrams travel as 64-bit hashes
    * (8 bytes, never strings — the q_dedup_ngram collision argument);
    * the count tables are Zipf-bounded hash aggregates with map-side
    * combine; V is a single-row broadcast; the per-doc reduce is
    * all-integer so aggregation order cannot change a single output bit.
    */
  def bigramBitCost(df: DataFrame, idCol: String, textCol: String,
                    keepMilliBits: Long = Long.MaxValue): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("__t"))
    val pairs = toks.select(col("id"), explode(transform(
        slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
        (x, i) => struct(x.as("w1"), element_at(col("__t"), i + 2).as("w2"))))
        .as("__bg"))
      .select(col("id"),
        xxhash64(col("__bg.w1")).as("__h1"),
        xxhash64(col("__bg.w1"), col("__bg.w2")).as("__h12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bigCnt = pairs.groupBy("__h12").agg(count(lit(1)).as("__c12"))
    val preCnt = pairs.groupBy("__h1").agg(count(lit(1)).as("__c1"))
    val vocabSize = df.select(
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .agg(count_distinct(col("__tok")).as("__v"))
    def bitlen(c: Column): Column = length(bin(c)).cast("long")
    val perDoc = pairs
      .join(bigCnt, "__h12").join(preCnt, "__h1")
      .crossJoin(broadcast(vocabSize))
      .select(col("id"),
        (bitlen(col("__c1") + col("__v")) - bitlen(col("__c12"))).as("__cost"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__cost")).as("bit_cost"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bit_cost"), lit(0L)).as("bit_cost"))
      .withColumn("milli_bits",
        when(col("n_bigrams") > 0L, expr("bit_cost * 1000 div n_bigrams"))
          .otherwise(0L))
      .withColumn("keep", (col("milli_bits") <= keepMilliBits).cast("int"))
  }

  /** FREQUENCY-RANKED VOCABULARY: the `maxVocab` most frequent tokens with
    * dense ids 0..n-1 assigned by (count desc, token asc) — the
    * "train the tokenizer's vocab" step every pipeline runs before
    * [[encodeWithVocab]] freezes text into id sequences.
    *
    * Scale: token counts are one map-side-combined hash aggregate (the
    * token universe is Zipf-bounded — sublinear in corpus size); the rank
    * assignment is a BOUNDED [[graft.functions.TopNRows]] heap, not a
    * global sort: every partition reduces to ≤ maxVocab entries before the
    * single-row exchange, so the full vocabulary never sorts anywhere and
    * the one reduce task holds O(maxVocab) — real vocabs cap at 10⁴–10⁶
    * entries by design, which is why this is an aggregate and not a
    * `row_number` window (that would sort the whole vocabulary in one
    * task with no partial aggregation).
    */
  def buildVocab(df: DataFrame, text: Column, maxVocab: Int): DataFrame = {
    require(maxVocab > 0, "maxVocab must be positive")
    df.select(explode(TextFunctions.tokens(text)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .agg(TopN.rows(
        struct(col("token"), col("cnt")),
        struct((-col("cnt")).as("neg_cnt"), col("token")),
        maxVocab, isMax = false).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("__t.token").as("token"), col("__t.cnt").as("cnt"),
        col("__pos").cast("long").as("id"))
  }

  /** Encode each document as its [[buildVocab]] id sequence (order
    * preserved; out-of-vocabulary tokens become `unkId`) — the serving
    * half of the vocab contract: train once, freeze, encode everywhere.
    *
    * Scale: the vocab BROADCASTS (capped by construction at maxVocab
    * rows), so the corpus explodes to (id, pos, token) and collapses
    * straight back into a per-doc hash aggregate — one shuffle on the doc
    * id, nothing wide ever carries a token string. The per-doc
    * `sort_array` re-establishes token order in O(len log len) per row,
    * NOT a window sort (collect_list order is partition-dependent;
    * sorting by the carried `pos` makes the result partitioning-free).
    * Token-less documents keep an EMPTY sequence via the final left join.
    *
    * The broadcast is chosen from the vocab's size, not assumed: one
    * cheap `limit(n+1).count` checks it against `maxBroadcastVocab`
    * (default 4M entries). Beyond that bound a broadcast would OOM the
    * driver, so the same plan runs as a SHUFFLE join on the token (the
    * right shape when the "vocab" is itself data-scale).
    */
  def encodeWithVocab(df: DataFrame, idCol: String, text: Column,
                      vocab: DataFrame, unkId: Long = -1L,
                      maxBroadcastVocab: Long = 1L << 22): DataFrame = {
    require(maxBroadcastVocab > 0, "maxBroadcastVocab must be positive")
    val vocabSide = {
      val v = vocab.select(col("token"), col("id").as("__tid"))
      val n = vocab.limit((maxBroadcastVocab + 1).min(Int.MaxValue).toInt).count()
      if (n <= maxBroadcastVocab) broadcast(v) else v
    }
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextFunctions.tokens(text)).as(Seq("__pos", "token")))
    val encoded = toks
      .join(vocabSide, Seq("token"), "left")
      .groupBy("id")
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"),
          coalesce(col("__tid"), lit(unkId)).as("tid")))),
        x => x("tid")).as("token_ids"))
    df.select(col(idCol).as("id")).join(encoded, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("token_ids"), array().cast("array<bigint>")).as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
  }
}
