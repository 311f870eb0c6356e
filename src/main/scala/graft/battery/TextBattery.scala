package graft

import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object TextBattery {
  import Queries.{Q, table, events}
  import BatteryUtil._


  val queries: Seq[(String, Q)] = Seq(
    "q_token_count" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
      Some(s"SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS n_tokens FROM documents")),

    "q_quality" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          punctRatio(col("text")).as("punct_ratio"),
          stopwordRatio(col("text")).as("stopword_ratio"),
          qualityScore(col("text")).as("quality")),
      Some(s"""
        WITH t AS (SELECT doc_id, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id,
          $sqlQualitySignals
        FROM t)
        SELECT doc_id, punct_ratio, stopword_ratio,
          $sqlQualityScore AS quality
        FROM m""")),

    // CHARACTER-CLASS counts: the encoding-health signal (mojibake /
    // binary-in-text detection) — exact integer counts so both engines
    // compare bitwise; n_replacement > 0 is the classic drop rule.
    "q_char_classes" -> Q(
      (s, dir) => graft.operators.TextStats.charClassCounts(
        table(s, dir, "documents"), "doc_id", "text"),
      Some(raw"""
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_letter,
          CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
          CAST(len(regexp_extract_all(text, '[ \t\n\r]')) AS BIGINT) AS n_space,
          CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS BIGINT) AS n_nonascii,
          CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
          CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control
        FROM documents""")),

    "q_lang_id" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred")),
      Some(s"""
        WITH t AS (SELECT doc_id, lang, $sqlTokens AS toks FROM documents),
        sc AS (SELECT doc_id, lang,
          len(list_filter(toks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS s_en,
          len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS s_de,
          len(list_filter(toks, x -> list_contains(['le','la','les','et','est','un','une','dans'], x))) AS s_fr,
          len(list_filter(toks, x -> list_contains(['el','los','las','es','un','una','que','en'], x))) AS s_es
        FROM t)
        SELECT doc_id, lang,
          CASE WHEN greatest(s_en,s_de,s_fr,s_es) > 0 AND s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
               WHEN greatest(s_en,s_de,s_fr,s_es) > 0 AND s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
               WHEN greatest(s_en,s_de,s_fr,s_es) > 0 AND s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
               WHEN greatest(s_en,s_de,s_fr,s_es) > 0 AND s_es = greatest(s_en,s_de,s_fr,s_es) THEN 'es'
               ELSE 'und' END AS lang_pred
        FROM sc""")),

    // BPE-ish pretokenization (GPT-2 regex family, lookahead-free so the
    // identical pattern runs under Java regex and DuckDB's RE2): the token
    // stream + count an LLM tokenizer budget is measured in. The token
    // ARRAY joins on U+0001 (never produced by the tokenizer) because the
    // gate hashes scalar cells — the raw array stays covered by
    // TextFunctionsSpec.
    "q_bpe_tokens" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          array_join(bpeTokens(col("text")), "\u0001").as("toks_joined"),
          bpeTokenCount(col("text")).as("n_bpe")),
      Some {
        val pat = graft.functions.TextFunctions.bpePattern.replace("'", "''")
        raw"""SELECT doc_id,
               array_to_string(list_filter(regexp_extract_all(text, '$pat'),
                           x -> NOT regexp_matches(x, '^\s+$$')), chr(1)) AS toks_joined,
               CAST(len(list_filter(regexp_extract_all(text, '$pat'),
                           x -> NOT regexp_matches(x, '^\s+$$'))) AS BIGINT) AS n_bpe
             FROM documents"""
      }),

    // FULL vocab-driven BPE (committed merges fixture, greedy ranked merge
    // loop inside the codegen'd expression): real subword tokens, not
    // pretokens. The merge loop is not SQL-expressible → golden fixture
    // from an independently-written single-node encoder over the same
    // committed merges file.
    "q_bpe_merge" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          array_join(bpeEncode(col("text")), "\u0001").as("toks_joined"),
          bpeTokenCount(col("text"), graft.functions.BpeVocab.bundled).as("n_tokens")),
      golden("q_bpe_merge")),

    // BYTE-LEVEL BPE (exact GPT-2 semantics: bytes_to_unicode remap, then
    // the ranked merge loop over the byte alphabet) — lossless on any
    // input, zero unknown tokens. Golden fixture from an independent
    // encoder with its OWN remap table built from the published ranges.
    "q_bpe_bytes" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          array_join(bpeEncodeBytes(col("text")), "").as("toks_joined"),
          bpeTokenCountBytes(col("text")).as("n_tokens")),
      golden("q_bpe_bytes")),

    // Chunking denominated in REAL merged tokens (the LLM context unit):
    // windows of 24 subwords, chunk text = subword concatenation. Golden
    // fixture from the independent encoder + a plain slicing loop.
    "q_chunk_bpe" -> Q(
      (s, dir) => graft.operators.Chunking.chunkByBpeTokens(
        table(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 24, stride = 24),
      golden("q_chunk_bpe")),

    "q_fingerprint" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp")),
      Some("SELECT doc_id, md5(text) AS fp FROM documents")),

    // Heuristic quality rules (the Gopher/C4 pre-filter family): one
    // tokenize-once narrow projection, integer numerators, one division per
    // signal at the end — bit-identical across engines. Thresholds chosen
    // to split this corpus non-trivially (280 keep / 220 drop at sf0.01).
    "q_quality_rules" -> Q(
      (s, dir) => graft.operators.TextStats.qualityRuleSignals(
        table(s, dir, "documents"), "doc_id", "text",
        graft.operators.TextStats.QualityRules(
          minTokens = 20, maxTokens = 80,
          minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
          maxSymbolRatio = 0.1, maxBulletFrac = 0.9,
          minAlphaFrac = 0.8, minStopwordHits = 2)),
      qualityRulesOracle(minTokens = 20, maxTokens = 80)),

    // Canonical normalization (lower → NFC → whitespace collapse → trim)
    // + the near-exact dedup fingerprint over it. The corpus is already
    // lowercase/single-spaced, so every 5th document is deterministically
    // enriched with case, extra whitespace, and a DECOMPOSED accent
    // (e + U+0301) on BOTH sides — the oracle then checks real composition
    // work (100 changed / 400 untouched at sf0.01), not a no-op.
    "q_normalize" -> Q(
      (s, dir) => table(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(lit("HEADER  Line\n"), col("text"), lit("  Cafe\u0301 TAIL")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          normalizeText(col("text")).as("norm"),
          md5(normalizeText(col("text"))).as("norm_fp"),
          (normalizeText(col("text")) =!= col("text")).cast("int").as("changed")),
      Some(raw"""
        WITH enriched AS (SELECT doc_id,
          CASE WHEN doc_id % 5 = 0
               THEN 'HEADER  Line' || chr(10) || text || '  Cafe' || chr(769) || ' TAIL'
               ELSE text END AS text
          FROM documents),
        n AS (SELECT doc_id, text,
          trim(regexp_replace(nfc_normalize(lower(text)), '\s+', ' ', 'g')) AS norm
          FROM enriched)
        SELECT doc_id, norm, md5(norm) AS norm_fp,
          CAST(CASE WHEN norm <> text THEN 1 ELSE 0 END AS INT) AS changed
        FROM n""")),

    // PII redaction (emails → URLs → phone runs, RE2-compatible patterns so
    // Spark's Java regex and DuckDB's RE2 agree) + the audit counts. The
    // synthetic corpus carries no PII of its own, so every 7th document is
    // deterministically enriched with an email + phone contact line on BOTH
    // sides — the oracle then verifies real redaction work, not a no-op.
    "q_scrub_pii" -> Q(
      (s, dir) => table(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or 555-123-4567")))
            .otherwise(col("text")))
        .select(col("doc_id"), scrubPii(col("text")).as("clean"),
          piiCounts(col("text")).as("__pii"))
        .select(col("doc_id"), col("clean"), col("__pii.n_email"),
          col("__pii.n_url"), col("__pii.n_phone")),
      Some(s"""
        WITH enriched AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || doc_id || '@example.com or 555-123-4567'
               ELSE text END AS text
          FROM documents),
        s AS (SELECT doc_id, text,
          regexp_replace(text, '$sqlEmailPattern', '<EMAIL>', 'g') AS after_email
          FROM enriched),
        s2 AS (SELECT doc_id, text, after_email,
          regexp_replace(after_email, '$sqlUrlPattern', '<URL>', 'g') AS after_url
          FROM s)
        SELECT doc_id,
          regexp_replace(after_url, '$sqlPhonePattern', '<PHONE>', 'g') AS clean,
          CAST(len(regexp_extract_all(text, '$sqlEmailPattern')) AS INT) AS n_email,
          CAST(len(regexp_extract_all(after_email, '$sqlUrlPattern')) AS INT) AS n_url,
          CAST(len(regexp_extract_all(after_url, '$sqlPhonePattern')) AS INT) AS n_phone
        FROM s2""")),

    // Vocabulary mining: 10 most frequent tokens per language — two bounded
    // aggregations (map-side partial on both), never a full vocabulary sort.
    "q_top_tokens" -> Q(
      (s, dir) => graft.operators.TextStats.topTokensPerGroup(
        table(s, dir, "documents"), Seq("lang"), col("text"), k = 10),
      Some(s"""
        WITH tok AS (SELECT lang, unnest($sqlTokens) AS token FROM documents),
        cnt AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2)
        SELECT lang, token, cnt, rank FROM (
          SELECT lang, token, cnt,
            row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
          FROM cnt) t
        WHERE rank <= 10""")),

    // Repetition quality signals (the pretraining "repetition rules"
    // family): duplicate-line fraction (narrow array arithmetic) and
    // top-bigram fraction (distributed two-aggregation max, never a
    // per-row quadratic loop).
    "q_repetition" -> Q(
      (s, dir) => graft.operators.TextStats.repetitionSignals(
        table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""
        WITH lines AS (SELECT doc_id,
          list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls
          FROM documents),
        ls AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
          CASE WHEN len(ls) > 0
               THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
               ELSE 0.0 END AS dup_line_frac
          FROM lines),
        t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        bg AS (SELECT doc_id,
          unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM t WHERE len(toks) >= 2),
        cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        top AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
          FROM cnt GROUP BY doc_id)
        SELECT l.doc_id AS id, l.n_lines, l.dup_line_frac,
          COALESCE(t.n_bigrams, 0) AS n_bigrams,
          COALESCE(t.top_bigram_frac, 0.0) AS top_bigram_frac
        FROM ls l LEFT JOIN top t ON l.doc_id = t.doc_id""")),

    // Corpus-frequency token rarity (perplexity-proxy quality signal):
    // vocabulary counts joined back per occurrence, all-integer aggregates
    // (exact + aggregation-order-free; logs are an offline concern).
    "q_rarity" -> Q(
      (s, dir) => graft.operators.TextStats.tokenRarity(
        table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
        vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
        SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(cnt) AS BIGINT) AS sum_token_cnt,
          CAST(min(cnt) AS BIGINT) AS min_cnt,
          CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM tok JOIN vocab USING (token) GROUP BY doc_id""")),

    // JSONL INGESTION (the crawl-dump wire format): explicit schema (no
    // inference scan), PERMISSIVE corrupt-line capture, line-splittable
    // parallel read. The clean split of a committed fixture with two
    // broken lines must agree with DuckDB's ignore_errors read.
    "q_jsonl_source" -> Q(
      (s, _) => graft.sources.JsonlDocs.clean(
        graft.sources.JsonlDocs.read(s,
          "/root/repo/src/test/resources/jsonl/docs.jsonl",
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING"))),
      Some("""
        SELECT doc_id, text, lang
        FROM read_json('/root/repo/src/test/resources/jsonl/docs.jsonl',
          format='newline_delimited', ignore_errors=true,
          columns={'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR'})
        WHERE doc_id IS NOT NULL""")),

    // CSV INGESTION (same corrupt-capture contract as JSONL): rows that
    // cannot parse into the declared schema quarantine instead of
    // aborting or silently dropping; the clean split must agree with
    // DuckDB's ignore_errors read of the committed fixture.
    "q_csv_source" -> Q(
      (s, _) => graft.sources.JsonlDocs.clean(
        graft.sources.CsvDocs.read(s,
          "/root/repo/src/test/resources/csv/docs.csv",
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING"))),
      Some("""
        SELECT doc_id, text, lang
        FROM read_csv('/root/repo/src/test/resources/csv/docs.csv',
          header=false,
          columns={'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR'},
          ignore_errors=true)""")),

    // ORC ROUND-TRIP: the columnar-format sibling of the parquet path —
    // write the table to ORC once per JVM, read it back, project. The
    // oracle reads the SAME rows from parquet, so what's gated is that
    // Spark's ORC writer+reader preserve every value and type bit-for-bit
    // against an independent engine's view of the source.
    "q_orc_source" -> Q(
      (s, dir) => {
        val path = graft.operators.IndexRoot.path(s, "orc", s"$dir|supplier")
        // Hadoop FS existence check, not java.io.File: IndexRoot paths may
        // be non-local (hdfs://, s3a://) on non-local masters, where the
        // local check is always false and the table is rewritten per call.
        val p = new org.apache.hadoop.fs.Path(path)
        if (!p.getFileSystem(s.sessionState.newHadoopConf()).exists(p))
          table(s, dir, "supplier").write.mode("overwrite").orc(path)
        s.read.orc(path)
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      },
      Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")),

    // XML ROUND-TRIP (the Wikipedia-dump ingestion shape): the documents
    // table writes once per JVM as <doc> element rows via Spark 4's
    // NATIVE xml source (no external connector) and reads back with an
    // explicit schema + rowTag — per-field element escaping/unescaping
    // must preserve every value including the free-text column. The
    // oracle reads the same rows from parquet, so the gate is Spark's
    // XML writer+reader fidelity against an independent engine's view
    // of the source. Scale shape: XML is line-unsplittable, but rows
    // land as many part files (one per input partition), so a 100 TB
    // dump ingests with per-file parallelism — same contract as the
    // JSONL source's quarantine-capable sibling.
    "q_xml_source" -> Q(
      (s, dir) => {
        val path = graft.operators.IndexRoot.path(s, "xml", s"$dir|documents")
        val p = new org.apache.hadoop.fs.Path(path)
        if (!p.getFileSystem(s.sessionState.newHadoopConf()).exists(p))
          table(s, dir, "documents")
            .select("doc_id", "text", "lang", "source", "n_chars")
            .write.mode("overwrite").option("rowTag", "doc")
            .format("xml").save(path)
        s.read.format("xml").option("rowTag", "doc")
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
          .load(path)
          .select("doc_id", "text", "lang", "source", "n_chars")
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // RAW-CRAWL HTML → text extraction: script/style blocks dropped, tags
    // to spaces, common entities decoded, whitespace collapsed — the
    // codegen'd regexp chain that runs before every text operator on a
    // markup corpus. The HTML is built from table columns with identical
    // literals in both engines, so the strip itself is what's gated.
    "q_html_strip" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val html = concat(
          lit("<html><head><title>"), col("source"),
          lit("</title><style>p {color: red}</style></head><body><h1>"),
          col("source"),
          lit("</h1><script type=\"text/js\">var x = 1 < 2;</script><p>"),
          col("text"),
          lit("</p><a href=\"http://x.com\">link &amp; more</a>&nbsp;" +
            "&#39;q&#39; &lt;tag&gt; &quot;qq&quot;</body></html>"))
        docs.select(col("doc_id"),
            graft.functions.TextFunctions.stripHtml(html).as("clean"))
          .withColumn("n_chars", length(col("clean")).cast("long"))
      },
      Some(raw"""
        WITH h AS (SELECT doc_id,
            '<html><head><title>' || source ||
            '</title><style>p {color: red}</style></head><body><h1>' ||
            source ||
            '</h1><script type="text/js">var x = 1 < 2;</script><p>' ||
            text ||
            '</p><a href="http://x.com">link &amp; more</a>&nbsp;' ||
            '&#39;q&#39; &lt;tag&gt; &quot;qq&quot;</body></html>' AS html
          FROM documents),
        s1 AS (SELECT doc_id, regexp_replace(html,
            '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g') AS t
          FROM h),
        s2 AS (SELECT doc_id,
            regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s1),
        s3 AS (SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(t,
                '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
                '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g')
            AS t FROM s2),
        s4 AS (SELECT doc_id,
            trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s3)
        SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars
        FROM s4""")),

    // URL host extraction (per-host caps / host-level crawl aggregation):
    // lower-cased authority host, userinfo and port stripped, '' for
    // non-URLs — same regexp_extract no-match contract on both engines.
    "q_url_host" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val url = when(col("doc_id") % 97 === 0, lit("not a url"))
          .otherwise(concat(
            lit("https://user@"), col("source"), lit(".Example.COM"),
            when(col("doc_id") % 2 === 0, lit(":8443")).otherwise(lit("")),
            lit("/docs/"), col("doc_id"), lit("?ref=1#top")))
        docs.select(col("doc_id"),
          graft.functions.TextFunctions.urlHost(url).as("host"))
      },
      Some("""
        WITH u AS (SELECT doc_id,
            CASE WHEN doc_id % 97 = 0 THEN 'not a url'
                 ELSE 'https://user@' || source || '.Example.COM' ||
                   CASE WHEN doc_id % 2 = 0 THEN ':8443' ELSE '' END ||
                   '/docs/' || doc_id || '?ref=1#top' END AS url
          FROM documents)
        SELECT doc_id, lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
        FROM u""")),

    // CANONICAL URL KEY (crawl-level URL dedup): five synthetic URL
    // shapes exercise every rule — case, www, default port, userinfo,
    // duplicate slashes, fragment, tracking params in first/middle
    // positions, empty path, non-URL → NULL. The oracle CONSTRUCTS the
    // expected key directly from doc_id arithmetic (an independent
    // expectation, not a replay of the regexp chain).
    "q_url_canon" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val k = col("doc_id") % 7
        val url = when(col("doc_id") % 5 === 0, concat(
            lit("HTTPS://WWW.Example"), k, lit(".COM:443//a//b/"),
            col("doc_id"), lit("?utm_source=x&id="), col("doc_id"),
            lit("&fbclid=z#frag")))
          .when(col("doc_id") % 5 === 1, concat(
            lit("http://user:pw@Example"), k, lit(".com:80/path?utm_a=1")))
          .when(col("doc_id") % 5 === 2, concat(
            lit("https://www.example"), k, lit(".com")))
          .when(col("doc_id") % 5 === 3, lit("not a url"))
          .otherwise(concat(lit("https://example"), k,
            lit(".com/x%20y/?a=1&utm_medium=m&b=2")))
        docs.select(col("doc_id"),
          graft.functions.TextFunctions.canonicalUrl(url).as("canon"))
      },
      Some("""SELECT doc_id, CASE doc_id % 5
          WHEN 0 THEN 'https://example' || (doc_id % 7) || '.com/a/b/'
            || doc_id || '?id=' || doc_id
          WHEN 1 THEN 'http://example' || (doc_id % 7) || '.com/path'
          WHEN 2 THEN 'https://example' || (doc_id % 7) || '.com/'
          WHEN 3 THEN NULL
          ELSE 'https://example' || (doc_id % 7) || '.com/x%20y/?a=1&b=2'
          END AS canon
        FROM documents""")),

    // BIGRAM-LM "perplexity" filter (CCNet family): per-doc surprisal
    // under the corpus's own bigram model, in EXACT INTEGER BITS
    // (bitlen differences — ln's libm rounding differs across engines,
    // bit-length does not). Engine joins hashed bigrams (8 bytes); the
    // oracle uses raw strings (the q_dedup_ngram collision argument).
    "q_perplexity" -> Q(
      (s, dir) => graft.operators.TextStats.bigramBitCost(
        table(s, dir, "documents"), "doc_id", "text", keepMilliBits = 4700L),
      Some(s"""
        WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
                 unnest(toks[2:len(toks)]) AS w2 FROM t WHERE len(toks) >= 2),
        c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS vs FROM
                (SELECT unnest($sqlTokens) AS token FROM documents)),
        cost AS (SELECT doc_id,
            CAST(length(bin(c1 + vs)) - length(bin(c12)) AS BIGINT) AS cost
          FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  CAST(sum(cost) AS BIGINT) AS bit_cost FROM cost GROUP BY 1)
        SELECT d.doc_id AS id,
          CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          CAST(COALESCE(a.bit_cost, 0) AS BIGINT) AS bit_cost,
          CAST(COALESCE(a.bit_cost * 1000 // a.n_bigrams, 0) AS BIGINT) AS milli_bits,
          CAST(COALESCE(a.bit_cost * 1000 // a.n_bigrams, 0) <= 4700 AS INT) AS keep
        FROM documents d LEFT JOIN agg a USING (doc_id)""")),

    // MISRA–GRIES heavy hitters per language: k bounded counters per
    // group no matter how many distinct items stream past — the
    // frequent-items primitive for item universes too big to aggregate
    // exactly. At k ≥ the corpus vocabulary the summary IS the exact
    // count map (merge-order-independent), which is what this row gates;
    // the approximate regime's n/(k+1) bounds are property-tested.
    "q_heavy_tokens" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(graft.functions.HeavyHitters.sketch(col("token"), k = 64).as("hh"))
        .select(col("lang"), posexplode(col("hh")).as(Seq("__pos", "e")))
        .select(col("lang"), col("e.item").as("token"),
          col("e.count_lb").as("cnt"),
          (col("__pos") + 1).cast("long").as("rank")),
      heavyTokensOracle("")),

    // FREQUENCY-RANKED VOCABULARY: dense ids 0..n-1 by (count desc, token
    // asc) under a bounded-heap cap — the "train the tokenizer vocab"
    // step. The full token universe never sorts (TopNRows aggregate).
    "q_vocab" -> Q(
      (s, dir) => graft.operators.TextStats.buildVocab(
        table(s, dir, "documents"), col("text"), maxVocab = 1000),
      Some(s"""
        WITH tok AS (SELECT unnest($sqlTokens) AS token FROM documents),
        cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1)
        SELECT token, cnt, CAST(rn - 1 AS BIGINT) AS id FROM (
          SELECT token, cnt,
            row_number() OVER (ORDER BY cnt DESC, token) AS rn FROM cnt) r
        WHERE rn <= 1000""")),

    // Vocab-id ENCODING (the serving half): each doc as its ordered id
    // sequence, OOV → -1, token-less docs keep an empty sequence. The
    // vocab broadcasts; one doc-id shuffle; order restored by carried
    // position, never a window sort. The id sequence ships to the driver
    // battery as a space-joined STRING (`token_ids`): the oracle
    // comparator sorts columns with pandas, which cannot order/hash an
    // array column — a scalar rendering keeps the check hash-exact while
    // the spec suite covers the typed array output directly.
    "q_vocab_encode" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.operators.TextStats.encodeWithVocab(
          docs, "doc_id", col("text"),
          graft.operators.TextStats.buildVocab(docs, col("text"), maxVocab = 200))
          .select(col("id"),
            array_join(transform(col("token_ids"), _.cast("string")), " ")
              .as("token_ids"),
            col("n_tokens"))
      },
      Some(s"""
        WITH tok AS (SELECT unnest($sqlTokens) AS token FROM documents),
        cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        vocab AS (SELECT token, CAST(rn - 1 AS BIGINT) AS vid FROM (
          SELECT token, cnt,
            row_number() OVER (ORDER BY cnt DESC, token) AS rn FROM cnt) r
          WHERE rn <= 200),
        t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        pos AS (SELECT doc_id, unnest(toks) AS token,
                  unnest(range(1, len(toks) + 1)) AS p FROM t),
        enc AS (SELECT doc_id,
                  list(COALESCE(vid, -1) ORDER BY p) AS token_ids
                FROM pos LEFT JOIN vocab USING (token) GROUP BY doc_id)
        SELECT d.doc_id AS id,
          COALESCE(array_to_string(e.token_ids, ' '), '') AS token_ids,
          CAST(COALESCE(len(e.token_ids), 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN enc e USING (doc_id)""")),

    // KEY-SKEW profile: the 20 heaviest event users with exact counts and
    // integer ppm share — the pre-shuffle "which keys melt a task" report.
    // Bounded heap + single-row total broadcast; no full key sort.
    "q_key_skew" -> Q(
      (s, dir) => graft.operators.Profile.keySkew(
        events(s, dir).select("user_id", "event_type"), Seq("user_id"), k = 20),
      Some("""
        WITH cnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                     FROM events GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n_keys FROM cnt)
        SELECT user_id, cnt, CAST(rn AS BIGINT) AS rank, n_keys,
          CAST(cnt * 1000000 // tot AS BIGINT) AS ppm
        FROM (SELECT user_id, cnt,
                row_number() OVER (ORDER BY cnt DESC, user_id) AS rn FROM cnt) r
        CROSS JOIN tot WHERE rn <= 20""")),

    // Benchmark decontamination: documents sharing any word 8-gram with
    // the "benchmark" slice (doc_id % 10 = 0), with distinct-shared-gram
    // counts. Engine joins on HASHED grams (8 bytes/gram, fused per-row
    // expression); the oracle intersects the raw string grams — equality
    // of results is the ~2^-64 collision argument q_dedup_ngram already
    // pins.
    "q_decontaminate" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        // the eval-suite gram table is a build-once artifact (persisted
        // under IndexRoot like the MinHash/winnow indexes): nightly runs
        // pay one corpus shingle pass + the gram join, never the suite's
        graft.operators.Curation.contaminationHitsFromGrams(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          graft.operators.Curation.benchGramsFor(
            docs.filter(col("doc_id") % 10 === 0),
            cacheKey = s"$dir/documents%10=0!grams8", "text", ngramSize = 8),
          ngramSize = 8)
      },
      Some(decontaminateOracleSql)),

    // CONTAMINATION ATTRIBUTION: which benchmark item leaked into which
    // document — one row per (doc, bench item) pair with the count of
    // shared distinct 8-grams; the audit face of q_decontaminate (same
    // corpus/suite split, bench grams carrying their item id instead of
    // collapsing). Oracle: the raw-string-gram join with the bench doc_id
    // carried through.
    "q_contam_attr" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.operators.Curation.contaminationAttribution(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          ngramSize = 8)
      },
      Some(s"""
        WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 6),
                i -> $sqlGram8)) AS gs
              FROM tk WHERE len(toks) >= 8),
        bench AS (SELECT doc_id AS bench_id, unnest(gs) AS gr FROM g WHERE doc_id % 10 = 0),
        dg AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id % 10 <> 0)
        SELECT dg.doc_id AS id, bench.bench_id,
          CAST(count(*) AS BIGINT) AS n_shared_grams
        FROM dg JOIN bench ON dg.gr = bench.gr GROUP BY 1, 2""")),

    // EXACT REPEATED-SPAN detection (Lee et al. 2021 ExactSubstr family):
    // maximal token spans covered by 8-grams occurring >= 2 times in the
    // corpus. Engine hashes grams (8 bytes); oracle intersects raw string
    // grams (the q_dedup_ngram collision argument); the span algebra
    // (per-doc gaps-and-islands) must agree exactly.
    "q_span_dedup" -> Q(
      (s, dir) => graft.operators.Dedup.repeatedSpans(
        table(s, dir, "documents"), "doc_id", "text",
        gramSize = 8, minCount = 2, minSpanTokens = 8),
      Some(s"""
        WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        g0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 6, 1)),
                 i -> {'pos': i - 1, 'gr': $sqlGram8})) AS u FROM tk),
        g AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.gr AS gr FROM g0),
        cnt AS (SELECT gr, count(*) AS c FROM g GROUP BY 1),
        dup AS (SELECT doc_id, pos FROM g JOIN cnt USING (gr) WHERE c >= 2),
        isl AS (SELECT doc_id, pos,
            sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM (SELECT doc_id, pos,
                  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM dup)),
        spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
                  FROM isl GROUP BY doc_id, island)
        SELECT doc_id AS id, span_start, span_end,
          span_end - span_start + 1 AS span_tokens
        FROM spans WHERE span_end - span_start + 1 >= 8""")),

    // The same contamination scan through the Bloom-filter semi-join
    // pushdown (the very-large-benchmark-suite regime: sketch pre-filter
    // in the corpus scan, then the exact gram join). Bloom filters have no
    // false negatives and the exact join removes false positives, so this
    // gates BIT-IDENTICAL output — same oracle — through a genuinely
    // different physical plan.
    "q_decontam_bloom" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.operators.Curation.contaminationHits(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text", ngramSize = 8,
          bloom = Some(graft.operators.Curation.BloomConfig(fpp = 0.01,
            // one sketch per corpus per JVM — the eval-suite sketch is a
            // build-once artifact like the MinHash/winnow indexes above
            sketchKey = Some(s"$dir|decontam8"))))
      },
      Some(decontaminateOracleSql)),

    // DSIR importance statistics: integer sufficient stats of the hashed
    // word-bigram likelihood ratio between the "target" slice (doc_id %
    // 10 = 0, standing in for the high-quality corpus) and the raw rest.
    // Engine joins HASHED grams; the oracle intersects raw string grams
    // (the q_dedup_ngram collision argument). Importance weights are one
    // log away offline — the sums ship exact.
    "q_importance" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        // both vocabulary tables are build-once artifacts (raw: once per
        // corpus snapshot; target: once per suite release) — the per-run
        // cost is one shingle pass over the scored docs + two joins
        graft.operators.TextStats.importanceStatsFromCounts(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          graft.operators.TextStats.gramCountsFor(
            docs.filter(col("doc_id") % 10 =!= 0),
            cacheKey = s"$dir/documents%10<>0!gramcnt2", "text", ngramSize = 2),
          graft.operators.TextStats.gramCountsFor(
            docs.filter(col("doc_id") % 10 === 0),
            cacheKey = s"$dir/documents%10=0!gramcnt2", "text", ngramSize = 2),
          ngramSize = 2)
      },
      Some(s"""
        WITH tk AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS gr
              FROM tk WHERE len(toks) >= 2),
        raw AS (SELECT doc_id, gr FROM g WHERE doc_id % 10 <> 0),
        rawcnt AS (SELECT gr, count(*) AS rc FROM raw GROUP BY 1),
        tgtcnt AS (SELECT gr, count(*) AS tc FROM g WHERE doc_id % 10 = 0 GROUP BY 1)
        SELECT r.doc_id AS id, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(COALESCE(t.tc, 0)) AS BIGINT) AS sum_target_cnt,
          CAST(sum(c.rc) AS BIGINT) AS sum_corpus_cnt,
          CAST(sum(CASE WHEN t.tc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_target
        FROM raw r
        JOIN rawcnt c USING (gr)
        LEFT JOIN tgtcnt t USING (gr)
        GROUP BY 1""")),

    // Winnowing fingerprints: substring-sharing pairs via an inverted-index
    // join on local-min Rabin-Karp hashes (shared-fingerprint count >= 3).
    // Rolling-hash arithmetic is not expressible in DuckDB SQL -> golden
    // fixture from the independent brute-force recomputation.
    "q_fingerprint_winnow" -> Q(
      (s, dir) => Dedup.winnowPairsFromPostings(
        Dedup.winnowPostingsFor(table(s, dir, "documents"),
          cacheKey = s"$dir/documents!winnow", "doc_id", "text")),
      golden("q_fingerprint_winnow")),
  )
}
