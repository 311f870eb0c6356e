package graft

import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object CurationBattery {
  import Queries.{Q, table}
  import BatteryUtil._


  val queries: Seq[(String, Q)] = Seq(
    // Deterministic stratified sample: 20 docs per language, ranked by
    // (md5(text), doc_id) — reproducible across engines/partitionings. One
    // ObjectHashAggregate (bounded per-group heap, map-side combine), not a
    // window sort of whole strata.
    "q_sample_stratified" -> Q(
      (s, dir) => graft.operators.Sampling.stratifiedExactN(
        table(s, dir, "documents"), Seq("lang"), n = 20,
        orderBy = Seq(md5(col("text")), col("doc_id"))),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM
             (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) rn
              FROM documents) t WHERE rn <= 20""")),

    // Deterministic uniform sample: global smallest-50 by (md5(text), doc_id)
    // — plans as TakeOrderedAndProject (per-partition top-k, no shuffle).
    "q_sample_uniform" -> Q(
      (s, dir) => graft.operators.Sampling.uniformExactN(
        table(s, dir, "documents"), n = 50,
        orderBy = Seq(md5(col("text")), col("doc_id"))),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
              ORDER BY md5(text), doc_id LIMIT 50""")),

    // PER-SOURCE DOCUMENT CAP: at most 10 docs per source, best quality
    // first (common-crawl-style per-host caps — stops one domain from
    // dominating the mix). Same bounded-heap aggregate as the stratified
    // sample; the ordering key is the float quality score, which is
    // bit-identical across engines (q_quality proves it), tie-broken by
    // doc_id.
    "q_source_cap" -> Q(
      (s, dir) => graft.operators.Sampling.stratifiedExactN(
        table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            qualityScore(col("text")).as("quality")),
        Seq("source"), n = 10,
        orderBy = Seq(negate(col("quality")), col("doc_id"))),
      Some(s"""
        WITH t AS (SELECT doc_id, source, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id, source,
          CASE WHEN length(text) = 0 THEN 0.0
               ELSE CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) END AS punct_ratio,
          CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','of','to','in','is','it','that'], x))) AS DOUBLE) / len(toks) END AS stopword_ratio,
          least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_signal
        FROM t),
        q AS (SELECT doc_id, source,
          greatest(least(len_signal * 0.4 + least(stopword_ratio * 4.0, 1.0) * 0.4
            + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 1.0), 0.0) AS quality
        FROM m)
        SELECT doc_id, source, quality FROM (
          SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id) AS rn FROM q) r
        WHERE rn <= 10""")),

    // BUDGET-BOUNDED QUALITY SELECTION: rank by quality desc (tie →
    // doc_id), keep the maximal prefix whose cumulative token count fits
    // a 12k-token budget — "take the best data until the budget is
    // spent". Same two-level distributed prefix sum as q_pack_budget
    // (never a corpus-wide single-partition window); the oracle is the
    // single-window formulation it must reproduce exactly. The float
    // quality score is bit-identical across engines (q_quality proves
    // it), so the DESC rank and therefore the prefix agree.
    "q_select_budget" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .withColumn("quality", qualityScore(col("text")))
        graft.operators.Sampling.selectTopUnderTokenBudget(
            docs, "doc_id", "text", col("quality"), budgetTokens = 12000)
          .select("doc_id", "lang", "quality", "n_tokens", "cum_tokens")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id, lang,
          $sqlQualitySignals,
          CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t),
        q AS (SELECT doc_id, lang, n_tokens,
          $sqlQualityScore AS quality
        FROM m),
        c AS (SELECT doc_id, lang, quality, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
        FROM q)
        SELECT doc_id, lang, quality, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= 12000""")),

    // Overlapping token-window chunking (40-token windows every 20) — the
    // long-document → training-sequence splitter. Narrow, no shuffle.
    "q_chunk_tokens" -> Q(
      (s, dir) => graft.operators.Chunking.chunkByTokens(
        table(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 40, stride = 20),
      Some(s"""
        WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        st AS (SELECT doc_id, toks, unnest(range(0, len(toks), 20)) AS start
               FROM t WHERE len(toks) > 0)
        SELECT doc_id, CAST(start // 20 AS BIGINT) AS chunk_id,
          array_to_string(list_slice(toks, start + 1, start + 40), ' ') AS chunk_text,
          CAST(len(list_slice(toks, start + 1, start + 40)) AS BIGINT) AS n_tokens
        FROM st""")),

    // Contiguous-fill sequence packing into 2000-token bins, doc_id order.
    // The Spark side computes the global running token total with a
    // two-level distributed prefix sum (bucket sums → tiny bucket-offset
    // window → within-bucket window); the oracle is the single-window
    // formulation the distributed plan must reproduce exactly.
    "q_pack_budget" -> Q(
      (s, dir) => graft.operators.Chunking.packByTokenBudget(
        table(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 2000, bucketSize = 100)
        .select("doc_id", "lang", "n_tokens", "pack_id"),
      Some(s"""
        WITH n AS (SELECT doc_id, lang, CAST(len($sqlTokens) AS BIGINT) AS n_tokens
                   FROM documents),
        c AS (SELECT *, COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
              FROM n)
        SELECT doc_id, lang, n_tokens, CAST(before // 2000 AS BIGINT) AS pack_id FROM c""")),

    // The END-TO-END curation pipeline (lang/quality filter → scrub →
    // exact dedup → transitive near-dup removal → chunk → pack), gated by
    // chaining the per-stage oracle SQL. The scrub stage is provably a
    // no-op on this corpus (0 regex hits for all three PII patterns,
    // verified in DuckDB), so the oracle chain skips it; the
    // near-dup stage reuses the exact golden pair fixture restricted to
    // filter+dedup survivors (band collisions are per-pair, so the
    // full-corpus fixture restricted to surviving endpoints IS the pair
    // set of the filtered corpus).
    // Both pipeline rows consume the SHARED persisted curation prefix
    // (docsCurated: filter → scrub → exact dedup → near-dup removal,
    // fed by the persisted band index) — built once per JVM, so the
    // expensive scrub+signature+CC chain is paid ONCE for the two rows
    // instead of per row; each row then runs only its own suffix
    // (± decontamination, then chunk+pack). This is the production
    // nightly shape: curate the lake once, derive every training-set
    // variant from the curated corpus.
    "q_curation_pipeline" -> Q(
      (s, dir) => graft.operators.Curation.chunkAndPack(
        docsCurated(s, dir), "doc_id", "text", curationCfg),
      Some(curationOracleSql(decontam = false))),

    // The same pipeline with the DECONTAMINATION stage enabled: after
    // near-dup removal, any document sharing a word 8-gram with the
    // "benchmark" slice (raw doc_id % 10 = 0) drops before chunking. The
    // oracle chain inserts the q_decontaminate CTEs (raw string grams vs
    // the engine's hashed grams — the q_dedup_ngram collision argument).
    // Curation with the ExactSubstr SPAN-REMOVAL stage enabled (Lee et
    // al. 2021): corpus-repeated 8-gram spans are cut from the curated
    // survivors before chunking. Consumes the same shared persisted
    // prefix as the other two pipeline rows; only the span+chunk suffix
    // is this row's own work. The span stage runs AFTER document-level
    // dedup (span counts must not include near-dup copies about to be
    // dropped) and BEFORE chunking (chunks must tokenize the cut text).
    "q_curation_spans" -> Q(
      (s, dir) => graft.operators.Curation.chunkAndPack(
        graft.operators.Dedup.removeRepeatedSpans(
            docsCurated(s, dir), "doc_id", "text",
            gramSize = 8, minCount = 2, minSpanTokens = 8)
          .drop("n_cut_tokens"),
        "doc_id", "text", curationCfg),
      Some(curationOracleSql(decontam = false, spans = true))),

    "q_curation_decontam" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.operators.Curation.chunkAndPack(
          graft.operators.Curation.decontaminate(
            docsCurated(s, dir), "doc_id", "text",
            docs.filter(col("doc_id") % 10 === 0), "text",
            curationCfg.decontamNgram, curationCfg.decontamMinHits),
          "doc_id", "text", curationCfg)
      },
      Some(curationOracleSql(decontam = true))),

    // The pipeline with the SEMANTIC (embedding-space) decontamination
    // stage: after near-dup removal, a survivor whose embedding (vec_id
    // keyed to doc_id; corpus slice vec_id >= 50) reaches cosine 0.4
    // against any embedding of the FIXED vec_id < 50 suite drops before
    // chunking — the paraphrase-robust complement of q_curation_decontam's
    // verbatim n-gram stage. Survivors without an embedding row pass
    // through (the stage contract). Consumes the shared persisted prefix;
    // CurationSpec pins pretrainingPipeline(semanticDecontaminateAgainst)
    // == this composition. Oracle: the chained CTE template with the
    // list_cosine_similarity CTEs inserted (double math both sides).
    "q_curation_semdecon" -> Q(
      (s, dir) => {
        val cur = docsCurated(s, dir)
        val emb = table(s, dir, "embeddings")
        val corpusEmb = emb.filter(col("vec_id") >= 50)
          .select(col("vec_id").as("__eid"), col("embedding").as("__evec"))
          .join(cur.select(col("doc_id").as("__eid")), Seq("__eid"), "left_semi")
        val bad = graft.operators.Curation.semanticContaminationHits(
            corpusEmb, "__eid", "__evec",
            emb.filter(col("vec_id") < 50), "vec_id", "embedding",
            threshold = 0.4)
          .select(col("id")).distinct()
        graft.operators.Curation.chunkAndPack(
          cur.join(bad, cur("doc_id") === bad("id"), "left_anti"),
          "doc_id", "text", curationCfg)
      },
      Some(curationOracleSql(decontam = false, semdecon = true))),

    // CURATION ATTRITION REPORT: one row per RAW document labeling the
    // FIRST stage that dropped it (lang_quality → exact_dup → near_dup →
    // n-gram decontam → semantic decontam → kept) — the pipeline's
    // observability funnel, with BOTH decontamination stages armed (the
    // q_curation_decontam benchmark slice + the q_curation_semdecon
    // embedding suite). Drop sets are ids-only anti-joins between
    // persisted consecutive stage frames; the oracle runs the shared
    // chain CTEs once and labels by set membership.
    "q_attrition" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val emb = table(s, dir, "embeddings")
        graft.operators.Curation.attritionReport(
          docs, "doc_id", "text", curationCfg,
          decontaminateAgainst =
            Some((docs.filter(col("doc_id") % 10 === 0), "text")),
          nearDupPairs = Some(Dedup.minhashPairsFromIndex(
            docsMinhashIdx(s, dir), numHashes = 128, threshold = 0.5)),
          semanticDecontaminateAgainst =
            Some(graft.operators.Curation.SemanticDecontam(
              embeddings = emb.filter(col("vec_id") >= 50),
              embIdCol = "vec_id", embVecCol = "embedding",
              benchmark = emb.filter(col("vec_id") < 50),
              benchIdCol = "vec_id", benchVecCol = "embedding",
              threshold = 0.4)))
      },
      Some(attritionOracleSql)),

    // Deterministic split assignment: doc_id-keyed 75/12.5/12.5
    // train/val/test (binary-exact boundaries), reproducible across
    // engines — pure per-row hash arithmetic, no shuffle.
    // DETERMINISTIC per-stratum Bernoulli sample (sampleBy without the
    // randomness): keep iff hash32(doc_id) < floor(frac(lang)·2³²) —
    // binary-exact fractions, driver-computed integer thresholds, one
    // pushdown-friendly filter. Unlisted strata drop entirely.
    "q_sample_frac" -> Q(
      (s, dir) => graft.operators.Sampling.sampleByFraction(
        table(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        col("doc_id"), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0)),
      Some("""
        SELECT doc_id, lang, n_chars FROM (
          SELECT doc_id, lang, n_chars,
            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          FROM documents)
        WHERE (lang = 'en' AND h < 2147483648)
           OR (lang = 'de' AND h < 1073741824)
           OR (lang = 'fr' AND h < 4294967296)""")),

    "q_split" -> Q(
      (s, dir) => graft.operators.Sampling.assignSplit(
        table(s, dir, "documents").select("doc_id", "lang"),
        col("doc_id"),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)),
      Some("""
        SELECT doc_id, lang,
          CASE WHEN u < 0.75 THEN 'train'
               WHEN u < 0.875 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT doc_id, lang,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  / 4294967296.0 AS u
              FROM documents)""")),

    // SPLIT-LEAKAGE report: near-dup pairs whose endpoints landed in
    // DIFFERENT splits of the q_split random per-document assignment —
    // each row an eval example with a near-copy in training data. Oracle:
    // the golden pair fixture joined twice against the q_split hash
    // arithmetic.
    "q_split_leakage" -> Q(
      (s, dir) => {
        val assigned = graft.operators.Sampling.assignSplit(
          table(s, dir, "documents").select("doc_id"), col("doc_id"),
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        graft.operators.Sampling.splitLeakage(assigned, "doc_id", "split",
            Dedup.minhashPairsFromIndex(docsMinhashIdx(s, dir),
              numHashes = 128, threshold = 0.5))
          .select("id1", "id2", "split1", "split2")
      },
      Some("""
        WITH sp AS (SELECT doc_id,
            CASE WHEN u < 0.75 THEN 'train'
                 WHEN u < 0.875 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 AS u
                FROM documents)),
        e AS (SELECT id1, id2 FROM
          read_parquet('/root/repo/src/test/resources/golden/q_dedup_minhash/*.parquet'))
        SELECT e.id1, e.id2, s1.split AS split1, s2.split AS split2
        FROM e JOIN sp s1 ON e.id1 = s1.doc_id JOIN sp s2 ON e.id2 = s2.doc_id
        WHERE s1.split <> s2.split""")),

    // LEAKAGE-FREE split assignment: the split coin keyed on the near-dup
    // CLUSTER representative (connected components over the pair graph;
    // isolated docs are their own component) — every cluster lands in one
    // split, so the q_split_leakage report of THIS assignment is empty by
    // construction (spec-pinned). Oracle: the recursive-CC component CTE
    // + the same md5 hash arithmetic on the component id.
    "q_split_clustered" -> Q(
      (s, dir) => graft.operators.Sampling.assignSplitByCluster(
        table(s, dir, "documents").select("doc_id"), "doc_id",
        Dedup.minhashPairsFromIndex(docsMinhashIdx(s, dir),
          numHashes = 128, threshold = 0.5),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select("doc_id", "component", "split"),
      Some(s"""
        WITH RECURSIVE${componentCtes("")},
        allc AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
        SELECT doc_id, component,
          CASE WHEN u < 0.75 THEN 'train'
               WHEN u < 0.875 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT doc_id, component,
                CAST(('0x' || substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
                  / 4294967296.0 AS u
              FROM allc)""")),

    // Data mixing: deterministic per-language token-budget allocation
    // (60/20/20 en/de/fr of an 8000-token budget; es has zero weight and
    // must vanish). Engine: per-source two-level prefix sum in hash
    // order; oracle: the single-window formulation.
    "q_mixture" -> Q(
      (s, dir) => graft.operators.Mixing.allocateByTokenBudget(
        table(s, dir, "documents"), "doc_id", "text", "lang",
        Map("en" -> 0.6, "de" -> 0.2, "fr" -> 0.2), totalBudget = 8000L),
      Some(s"""
        WITH n AS (SELECT doc_id, lang, md5(text) AS h,
                     CAST(len($sqlTokens) AS BIGINT) AS n_tokens
                   FROM documents),
        a AS (SELECT *,
          CASE lang WHEN 'en' THEN CAST(floor(8000 * 0.6) AS BIGINT)
                    WHEN 'de' THEN CAST(floor(8000 * 0.2) AS BIGINT)
                    WHEN 'fr' THEN CAST(floor(8000 * 0.2) AS BIGINT)
                    ELSE 0 END AS alloc,
          COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM n)
        SELECT doc_id, lang, n_tokens FROM a
        WHERE alloc > 0 AND before + n_tokens <= alloc""")),

    // UPSAMPLING mixture: weights that EXCEED source availability repeat
    // the source in full epochs (de: 2 full + partial at sf0.01) plus a
    // deterministic hash-order partial pass — the Wikipedia-at-5-epochs
    // shape. Engine: per-source totals broadcast + explode(sequence) +
    // the shared prefix sum; oracle: unnest(range) + single window.
    "q_mixture_epochs" -> Q(
      (s, dir) => graft.operators.Mixing.allocateWithEpochs(
        table(s, dir, "documents"), "doc_id", "text", "lang",
        Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), totalBudget = 30000L),
      Some(s"""
        WITH n AS (SELECT doc_id, lang, md5(text) AS h,
                     CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
        a AS (SELECT *, CASE lang WHEN 'en' THEN CAST(floor(30000 * 0.5) AS BIGINT)
                                  WHEN 'de' THEN CAST(floor(30000 * 0.3) AS BIGINT)
                                  WHEN 'fr' THEN CAST(floor(30000 * 0.2) AS BIGINT)
                                  ELSE 0 END AS alloc FROM n),
        f AS (SELECT * FROM a WHERE alloc > 0),
        t AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS T FROM f GROUP BY 1),
        e AS (SELECT f.*, t.T,
                CAST(CASE WHEN t.T > 0 THEN f.alloc // t.T ELSE 0 END AS BIGINT) AS epochs
              FROM f JOIN t USING (lang)),
        e2 AS (SELECT *, alloc - epochs * T AS rem FROM e),
        fullp AS (SELECT doc_id, lang, n_tokens, unnest(range(epochs)) AS epoch
                  FROM e2 WHERE epochs > 0),
        w AS (SELECT *, COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM e2),
        part AS (SELECT doc_id, lang, n_tokens, epochs AS epoch FROM w
                 WHERE before + n_tokens <= rem)
        SELECT doc_id, lang, n_tokens, epoch FROM fullp
        UNION ALL SELECT * FROM part""")),

    // TEMPERATURE-BALANCED mixture: weights derived from the corpus as
    // c^0.5 (the multilingual α-sampling knob) — no caller weight map.
    // The only float step (sqrt, correctly rounded by IEEE-754 in both
    // engines) is quantized to an integer Q20 before any sum or division,
    // so the allocation arithmetic is exact integer on both sides.
    "q_mixture_temp" -> Q(
      (s, dir) => graft.operators.Mixing.allocateByTemperature(
        table(s, dir, "documents"), "doc_id", "text", "lang",
        alpha = 0.5, totalBudget = 20000L),
      Some(s"""
        WITH n AS (SELECT doc_id, lang, md5(text) AS h,
                     CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents),
        t AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS c FROM n GROUP BY 1),
        qt AS (SELECT lang, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576) AS BIGINT) AS q
               FROM t WHERE c > 0),
        al AS (SELECT lang, CAST((q * 20000) // (SELECT sum(q) FROM qt) AS BIGINT) AS alloc
               FROM qt),
        w AS (SELECT n.doc_id, n.lang, n.n_tokens, n.h, al.alloc,
                COALESCE(sum(n_tokens) OVER (PARTITION BY n.lang ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
              FROM n JOIN al USING (lang) WHERE al.alloc > 0)
        SELECT doc_id, lang, n_tokens FROM w
        WHERE before + n_tokens <= alloc""")),

    // QUALITY-WEIGHTED mixture via the WEIGHT-TABLE allocator (the
    // composition form: weights produced by another operator flow in as a
    // DataFrame, no driver collect). Per-source weight = integer mean of
    // per-doc Q16-quantized quality — per-doc floats quantize BEFORE any
    // sum, so both engines aggregate exact integers.
    "q_mixture_quality" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val w = docs.select(col("source"),
            floor(qualityScore(col("text")) * 65536).cast("long").as("__wq"))
          .groupBy("source")
          .agg(expr("sum(__wq) div count(1)").as("weight_q"))
        graft.operators.Mixing.allocateByWeightTable(
          docs, "doc_id", "text", "source", w, "weight_q",
          totalBudget = 20000L)
      },
      Some(s"""
        WITH t AS (SELECT doc_id, source, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id, source, text, toks,
          $sqlQualitySignals
        FROM t),
        qual AS (SELECT doc_id, source, text, toks,
          $sqlQualityScore AS quality
        FROM m),
        wq AS (SELECT source,
                 CAST(sum(CAST(floor(quality * 65536) AS BIGINT)) // count(*) AS BIGINT) AS w
               FROM qual GROUP BY 1),
        pos AS (SELECT source, w FROM wq WHERE w > 0),
        al AS (SELECT source,
                 CAST((w * 20000) // (SELECT sum(w) FROM pos) AS BIGINT) AS alloc
               FROM pos),
        n AS (SELECT doc_id, source, md5(text) AS h,
                CAST(len(toks) AS BIGINT) AS n_tokens FROM qual),
        wd AS (SELECT n.doc_id, n.source, n.n_tokens, al.alloc,
                 COALESCE(sum(n_tokens) OVER (PARTITION BY n.source
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
               FROM n JOIN al USING (source) WHERE al.alloc > 0)
        SELECT doc_id, source, n_tokens FROM wd
        WHERE before + n_tokens <= alloc""")),

    // TEMPERATURE mixture filled BEST-FIRST: per-language sqrt-weighted
    // token allocations (the q_mixture_temp arithmetic) consumed in
    // quality-descending order instead of hash order — each language's
    // budget goes to its best documents. Same never-exceed contract;
    // float quality is bit-identical across engines (q_quality).
    "q_mixture_best" -> Q(
      (s, dir) => graft.operators.Mixing.allocateByTemperatureBestFirst(
        table(s, dir, "documents"), "doc_id", "text", "lang",
        qualityScore(col("text")), alpha = 0.5, totalBudget = 20000L),
      Some(s"""
        WITH t AS (SELECT doc_id, lang, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id, lang, toks,
          $sqlQualitySignals
        FROM t),
        n AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
          $sqlQualityScore AS quality
        FROM m),
        tt AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS c FROM n GROUP BY 1),
        qt AS (SELECT lang, CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1048576) AS BIGINT) AS q
               FROM tt WHERE c > 0),
        al AS (SELECT lang, CAST((q * 20000) // (SELECT sum(q) FROM qt) AS BIGINT) AS alloc
               FROM qt),
        w AS (SELECT n.doc_id, n.lang, n.n_tokens, al.alloc,
                COALESCE(sum(n_tokens) OVER (PARTITION BY n.lang
                  ORDER BY quality DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
              FROM n JOIN al USING (lang) WHERE al.alloc > 0)
        SELECT doc_id, lang, n_tokens FROM w
        WHERE before + n_tokens <= alloc""")),

    // DATA-QUALITY EXPECTATIONS: five named row contracts checked in ONE
    // scan (one aggregate; adding a rule adds a counter, not a pass).
    // NULL predicate results count as violations by contract.
    "q_expectations" -> Q(
      (s, dir) => graft.operators.Profile.expectations(
        table(s, dir, "documents"), Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
          "lang_known" -> col("lang").isin("en", "de", "fr", "es"),
          "text_min_80_chars" -> (length(col("text")) >= 80),
          "source_well_formed" -> col("source").rlike("^src[0-9]+$"))),
      Some {
        val rules = Seq(
          "doc_id_not_null" -> "doc_id IS NOT NULL",
          "n_chars_consistent" -> "n_chars = length(text)",
          "lang_known" -> "lang IN ('en','de','fr','es')",
          "text_min_80_chars" -> "length(text) >= 80",
          "source_well_formed" -> "regexp_matches(source, '^src[0-9]+$')")
        rules.map { case (name, pred) =>
          s"""SELECT '$name' AS rule, count(*) AS n_rows,
               CAST(sum(CASE WHEN COALESCE($pred, false) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
               CAST(sum(CASE WHEN COALESCE($pred, false) THEN 0 ELSE 1 END) = 0 AS INT) AS pass
             FROM documents"""
        }.mkString(" UNION ALL ")
      }),

    // One-pass table profile (exact distinct for the oracle; production
    // default is the HLL sketch).
    "q_profile" -> Q(
      (s, dir) => graft.operators.Profile.profile(
        table(s, dir, "documents"), exactDistinct = true),
      Some(Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
             count(*) - count($c) AS n_nulls,
             count(DISTINCT $c) AS n_distinct,
             CAST(min($c) AS VARCHAR) AS min_value,
             CAST(max($c) AS VARCHAR) AS max_value
           FROM documents"""
      }.mkString(" UNION ALL "))),
  )
}
