package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end pretraining curation pipeline, composed from the
  * library's operators — what "a user of this engine" actually runs over a
  * raw crawl:
  *
  *   language filter → quality filter → scrub PII → exact dedup →
  *   transitive near-dup removal → token-window chunking → budget packing
  *
  * Every stage is one of the individually oracle-gated operators; this
  * object only composes them (no new semantics), which is itself the point:
  * the whole pipeline stays declarative, so Catalyst sees through stage
  * boundaries (filters merge, projections prune) everywhere the operators
  * allow it.
  */
object Curation {

  final case class Config(
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.3,
      nearDupThreshold: Double = 0.7,
      chunkTokens: Int = 512,
      chunkStride: Int = 512,
      packBudgetTokens: Long = 4096L,
      decontamNgram: Int = 8,
      decontamMinHits: Int = 1)

  /** The inputs of the optional SEMANTIC decontamination stage of
    * [[pretrainingPipeline]] — the embedding-space complement of the
    * verbatim n-gram stage (see [[semanticContaminationHits]]):
    * `embeddings` maps corpus ids (`embIdCol`) to their vectors
    * (`embVecCol`); a surviving document is dropped when its embedding's
    * cosine to ANY benchmark embedding reaches `threshold`. Documents
    * WITHOUT an embedding row pass through (no embedding ⇒ nothing to
    * compare — run the n-gram stage too; each catches what the other
    * misses). `maxBenchmark` is the broadcast guard, with
    * [[semanticContaminationHitsLsh]] as the large-suite escape hatch.
    */
  final case class SemanticDecontam(
      embeddings: DataFrame, embIdCol: String, embVecCol: String,
      benchmark: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double,
      maxBenchmark: Long = 100000L)

  /** Tuning for the optional Bloom-filter semi-join pushdown of
    * [[contaminationHits]]. `expectedItems` overrides the default
    * benchmark-gram count job when the caller already knows the
    * cardinality (e.g. from the eval suite's manifest). `sketchKey`
    * memoizes the BUILT sketch per JVM under that key — the production
    * shape: an eval-suite sketch is built once per suite release and
    * reused by every nightly decontamination run, so repeated calls pay
    * only the probe, not the count + fold jobs.
    */
  final case class BloomConfig(fpp: Double = 0.01,
                               expectedItems: Option[Long] = None,
                               sketchKey: Option[String] = None)

  private val sketchCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.util.sketch.BloomFilter]()

  /** A cheap freshness fingerprint folded into every `sketchKey`: the
    * benchmark's input files' (path, length, mtime) — driver-side metadata
    * stats only, no job — so a corpus regenerated in place under the same
    * key (the battery's own testdata is) keys a REBUILD instead of
    * silently serving a sketch of the old corpus (whose false-negative
    * rate against the new corpus is unbounded, not fpp). Non-file sources
    * (in-memory benchmarks) fall back to a count, which is one cheap job
    * on the small eval-suite side.
    */
  private[operators] def corpusFingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    val raw =
      if (files.nonEmpty) {
        val hconf = df.sparkSession.sessionState.newHadoopConf()
        files.sorted.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(hconf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        }.mkString(",")
      } else s"count:${df.count()}"
    scala.util.hashing.MurmurHash3.stringHash(raw).toHexString
  }

  /** BENCHMARK DECONTAMINATION hit counts: for every document sharing at
    * least one word `ngramSize`-gram with the benchmark corpus (an eval
    * set whose presence in training data would leak), the number of
    * distinct shared n-grams. The standard overlap-decontamination stage
    * of a pretraining pipeline.
    *
    * Plan shape at 100 TB: both sides reduce to DISTINCT HASHED n-grams
    * ([[graft.functions.HashedShingles]] — one fused per-row expression,
    * 8 bytes per gram), candidates come from one hash equi-join on the
    * gram — the benchmark side is tiny relative to the corpus (an eval
    * suite), so AQE broadcasts it and the corpus never shuffles. No text
    * ever leaves the scan.
    *
    * `bloom = Some(cfg)` adds a BLOOM-FILTER SEMI-JOIN PUSHDOWN for the
    * regime where the benchmark gram set outgrows the broadcast budget
    * (a full eval-suite library is 10⁷–10⁹ distinct grams): the benchmark
    * grams are folded into a ~10-bit-per-gram sketch
    * ([[graft.functions.BloomMightContainLong]]) that pre-filters the
    * corpus grams IN THE SCAN STAGE, before the gram shuffle of the
    * then-sort-merge join — so the 100 TB side ships ~fpp of its grams
    * instead of all of them. No false negatives ⇒ the post-join output is
    * EXACTLY the unfiltered path's (spec-pinned; `q_decontam_bloom` gates
    * it against the same oracle as `q_decontaminate`).
    */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        benchmark: DataFrame, benchTextCol: String,
                        ngramSize: Int = 8,
                        bloom: Option[BloomConfig] = None): DataFrame =
    contaminationHitsFromGrams(docs, idCol, textCol,
      benchGramTable(benchmark, benchTextCol, ngramSize), ngramSize, bloom,
      fingerprintOf = benchmark)

  /** The benchmark's DISTINCT hashed-gram table — the build side of the
    * contamination join, one column of longs.
    */
  def benchGramTable(benchmark: DataFrame, benchTextCol: String,
                     ngramSize: Int = 8): DataFrame =
    benchmark
      .select(explode(graft.functions.HashedShingles.column(col(benchTextCol), ngramSize))
        .as("__gram"))
      .distinct()

  /** [[benchGramTable]] memoized to its persisted parquet layout (same
    * build-once/serve-many contract as `Search.bm25IndexFor` and the
    * dedup signature tables): an eval suite is shingled ONCE per release
    * and every nightly decontamination run joins the stored longs — the
    * suite text is never re-tokenized per run.
    *
    * FRESHNESS: [[corpusFingerprint]] of the benchmark (driver-side file
    * (path, length, mtime) stats — no job for file sources) is folded into
    * the memo key, so a suite regenerated IN PLACE under the same
    * `cacheKey` keys a rebuild instead of silently serving grams of the
    * old snapshot (whose false-negative rate against the new suite is
    * unbounded) — the same guard the Bloom `sketchKey` path has. The
    * fingerprint forces `benchmark` on every call; for non-file sources
    * that costs one count job on the (small) suite side.
    */
  def benchGramsFor(benchmark: => DataFrame, cacheKey: String,
                    benchTextCol: String, ngramSize: Int = 8): DataFrame = {
    val b = benchmark
    IndexRoot.table(s"benchgrams$ngramSize",
      s"$cacheKey|txt=$benchTextCol|fp=${corpusFingerprint(b)}")(
      benchGramTable(b, benchTextCol, ngramSize))
  }

  /** [[contaminationHits]] from a prebuilt benchmark gram table
    * ([[benchGramTable]] / [[benchGramsFor]]) — zero benchmark-side
    * shingling.
    */
  def contaminationHitsFromGrams(docs: DataFrame, idCol: String, textCol: String,
                                 benchGrams0: DataFrame,
                                 ngramSize: Int = 8,
                                 bloom: Option[BloomConfig] = None): DataFrame =
    contaminationHitsFromGrams(docs, idCol, textCol, benchGrams0, ngramSize,
      bloom, fingerprintOf = benchGrams0)

  private def contaminationHitsFromGrams(docs: DataFrame, idCol: String,
                                         textCol: String,
                                         benchGrams0: DataFrame,
                                         ngramSize: Int,
                                         bloom: Option[BloomConfig],
                                         fingerprintOf: DataFrame): DataFrame = {
    val docGrams = docs.select(col(idCol).as("id"),
      // HashedShingles emits DISTINCT grams per doc, so the post-join
      // count is exactly |shared distinct grams| with no dedup step
      explode(graft.functions.HashedShingles.column(col(textCol), ngramSize)).as("__gram"))
    val (benchGrams, probes) = bloom match {
      case None => (benchGrams0, docGrams)
      case Some(bc) =>
        val effKey = bc.sketchKey.map(k =>
          s"$k|${corpusFingerprint(fingerprintOf)}")
        val cached = effKey.flatMap(k => Option(sketchCache.get(k)))
        cached match {
          case Some(sketch) =>
            // memoized sketch: only the exact join consumes the gram
            // table, so leave it lazy like the non-Bloom path
            (benchGrams0, docGrams.filter(
              graft.functions.BloomMightContainLong.column(col("__gram"), sketch)))
          case None =>
            // The gram table fans out twice (sketch build + exact join) —
            // persist so the benchmark text is shingled once.
            val grams = benchGrams0
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val n = math.max(bc.expectedItems.getOrElse(grams.count()), 1L)
            val sketch = grams.stat.bloomFilter("__gram", n, bc.fpp)
            effKey.foreach { k =>
              // sketches can be 100s of MB; a stale-keyed build must not
              // pile up — keep the cache small rather than unbounded
              if (sketchCache.size >= 8) sketchCache.clear()
              sketchCache.put(k, sketch)
            }
            (grams, docGrams.filter(
              graft.functions.BloomMightContainLong.column(col("__gram"), sketch)))
        }
    }
    probes.join(benchGrams, "__gram")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** CONTAMINATION ATTRIBUTION — which benchmark item leaked into which
    * document: `(id, bench_id, n_shared_grams)`, one row per (document,
    * benchmark item) pair sharing ≥ `minHits` distinct word
    * `ngramSize`-grams. The audit face of [[contaminationHits]]: the
    * drop-decision path wants one row per doc against the COLLAPSED suite
    * gram set (cheapest join), but an auditor asking "which eval question
    * leaked, and how badly" needs the per-item pairing. The benchmark gram
    * table carries its item id (NOT distinct-collapsed across items — a
    * gram two suite items share attributes to both); per-doc grams are
    * distinct by construction ([[graft.functions.HashedShingles]]), so the
    * count is exactly |shared distinct grams| per pair. Join volume is the
    * ACTUAL contamination volume (sparse by assumption — a corpus that
    * verbatim-contains most of the suite has bigger problems); the
    * filter-side scan stays the one-pass shingle explode of the hits path.
    */
  def contaminationAttribution(docs: DataFrame, idCol: String, textCol: String,
                               benchmark: DataFrame, benchIdCol: String,
                               benchTextCol: String,
                               ngramSize: Int = 8,
                               minHits: Long = 1L): DataFrame = {
    val docGrams = docs.select(col(idCol).as("id"),
      explode(graft.functions.HashedShingles.column(col(textCol), ngramSize))
        .as("__gram"))
    val benchGrams = benchmark.select(col(benchIdCol).as("bench_id"),
      explode(graft.functions.HashedShingles.column(col(benchTextCol), ngramSize))
        .as("__gram"))
    docGrams.join(benchGrams, "__gram")
      .groupBy("id", "bench_id").agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= minHits)
  }

  /** Drop every document sharing ≥ `minHits` distinct n-grams with the
    * benchmark corpus — [[contaminationHits]] as a filter.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    ngramSize: Int = 8, minHits: Int = 1,
                    bloom: Option[BloomConfig] = None): DataFrame = {
    val bad = contaminationHits(docs, idCol, textCol, benchmark, benchTextCol,
        ngramSize, bloom)
      .filter(col("n_hits") >= minHits).select(col("id"))
    docs.join(bad, docs(idCol) === bad("id"), "left_anti")
  }

  /** Returns the packed training chunks: (doc_id, chunk_id, chunk_text,
    * n_tokens, pack_id).
    *
    * Two explicit materialization barriers ([[Barrier]], reclaimed by
    * Spark's ContextCleaner once unreferenced): the exact-deduped corpus
    * fans out three ways (the
    * signature pass, the component join, the survivor semi-join) and the
    * chunk table feeds both levels of the packing prefix sum — without
    * the barriers every consumer re-runs the scrub+filter+dedup subtree
    * (measured 9.4 s → 3.4 s at sf0.1 for the battery config).
    */
  /** Optional `decontaminateAgainst = Some((benchmarkDf, itsTextCol))`
    * inserts the [[decontaminate]] stage (drop any document sharing ≥
    * `cfg.decontamMinHits` distinct word `cfg.decontamNgram`-grams with the
    * benchmark corpus) after near-dup removal — dedup first, so the
    * gram-join only scans surviving documents.
    *
    * Optional `nearDupPairs = Some(pairs)` supplies a PRECOMPUTED
    * full-corpus near-dup pair table (id1, id2) — the nightly persisted
    * band index ([[Dedup.minhashIndexFor]] → `minhashPairsFromIndex`) —
    * instead of re-hashing the filtered corpus inside the pipeline. Sound
    * because band collisions are a PER-PAIR property: the full-corpus
    * pair set restricted to pairs whose both endpoints survived
    * filtering+dedup is exactly the pair set of the filtered corpus
    * (spec-pinned equivalence). This is the production shape — the
    * signature pass is the pipeline's most expensive stage and the index
    * job already paid it.
    *
    * CONTRACT on the supplied pairs: they must have been computed over
    * text IDENTICAL to this pipeline's POST-SCRUB text. The inline path
    * (`nearDupPairs = None`) minhashes the scrubbed text; an index built
    * over raw text diverges silently on any corpus where
    * [[graft.functions.TextFunctions.scrubPii]] actually rewrites
    * documents (redaction tags perturb shingles, so signatures — and
    * hence the pair set — differ). Either build the index over
    * `scrubPii(text)` (the right nightly-job shape: scrub once, index
    * the scrubbed lake), or only feed a raw-text index to a pipeline
    * whose corpus the scrub provably leaves untouched.
    */
  /** Optional `semanticDecontaminateAgainst = Some(sd)` inserts the
    * EMBEDDING-SPACE decontamination stage ([[SemanticDecontam]]) after
    * the verbatim n-gram stage: survivors' ids semi-join the embedding
    * table, hits against the benchmark embeddings are computed by the
    * broadcast-guarded exact scan ([[semanticContaminationHits]]), and
    * the sparse hit id set anti-joins the corpus (AQE broadcasts it — the
    * corpus never shuffles). Ordered after n-gram decontamination so the
    * embedding lookup only scans documents that survived every cheaper
    * stage.
    */
  def pretrainingPipeline(docs: DataFrame, idCol: String, textCol: String,
                          cfg: Config = Config(),
                          decontaminateAgainst: Option[(DataFrame, String)] = None,
                          nearDupPairs: Option[DataFrame] = None,
                          semanticDecontaminateAgainst: Option[SemanticDecontam] = None): DataFrame = {
    val nearDeduped = curatedCorpus(docs, idCol, textCol, cfg, nearDupPairs)
    val decontaminated = decontaminateAgainst match {
      case Some((bench, bCol)) => decontaminate(nearDeduped, idCol, textCol,
        bench, bCol, cfg.decontamNgram, cfg.decontamMinHits)
      case None => nearDeduped
    }
    val semClean = semanticDecontaminateAgainst match {
      case Some(sd) =>
        val bad = semanticBadIds(decontaminated, idCol, sd)
        decontaminated.join(bad, decontaminated(idCol) === bad("id"), "left_anti")
      case None => decontaminated
    }
    chunkAndPack(semClean, idCol, textCol, cfg)
  }

  /** The contaminated-id set of the semantic stage: `survivors`' ids
    * restrict the embedding scan first (the stage cost tracks the CURATED
    * corpus, not the raw lake), then the broadcast-guarded exact scan
    * ([[semanticContaminationHits]]) yields the sparse hit set. ONE
    * definition shared by [[pretrainingPipeline]] and [[attritionReport]]
    * so the two can never disagree about what the stage drops.
    */
  private def semanticBadIds(survivors: DataFrame, idCol: String,
                             sd: SemanticDecontam): DataFrame = {
    val emb = sd.embeddings
      .select(col(sd.embIdCol).as("__eid"), col(sd.embVecCol).as("__evec"))
      .join(survivors.select(col(idCol).as("__eid")), Seq("__eid"), "left_semi")
    semanticContaminationHits(emb, "__eid", "__evec",
        sd.benchmark, sd.benchIdCol, sd.benchVecCol, sd.threshold,
        sd.maxBenchmark)
      .select(col("id")).distinct()
  }

  /** Per-document curation ATTRITION: for every input document, the FIRST
    * pipeline stage that dropped it — `(idCol, stage_idx, stage)` with
    * stage ∈ `lang_quality`(1) / `exact_dup`(2) / `near_dup`(3) /
    * `decontam`(4) / `semantic_decontam`(5) / `kept`(6) — the
    * observability face of [[pretrainingPipeline]]: exactly one row per
    * input document, stages that are disabled (`decontaminateAgainst` /
    * `semanticDecontaminateAgainst` = None) drop nothing, and the `kept`
    * id set is IDENTICAL to the doc-level survivor set of the pipeline
    * with the same arguments (spec-pinned). `groupBy(stage)` of this
    * table is the per-stage attrition funnel a pipeline report plots.
    *
    * Each stage's drop set is an ids-only anti-join between consecutive
    * survivor frames; the frames are cut ([[Barrier]]), so the chain
    * is computed once and every anti-join is id-keyed (AQE
    * broadcasts the sparse side) — the report costs one pipeline run plus
    * id joins, never a re-run per stage.
    */
  def attritionReport(docs: DataFrame, idCol: String, textCol: String,
                      cfg: Config = Config(),
                      decontaminateAgainst: Option[(DataFrame, String)] = None,
                      nearDupPairs: Option[DataFrame] = None,
                      semanticDecontaminateAgainst: Option[SemanticDecontam] = None): DataFrame = {
    // the exact stage chain of curatedCorpus/pretrainingPipeline, with a
    // cut frame per stage so drop sets are pure id anti-joins
    val filtered = Barrier.cut(docs.filter(
      TextFunctions.langQualityKeep(col(textCol), cfg.keepLangs, cfg.minQuality)),
      "Curation.attritionReport/filtered")
    val scrubbed = filtered.withColumn(textCol, TextFunctions.scrubPii(col(textCol)))
    val exactDeduped = Barrier.cut(Dedup.exact(scrubbed, col(textCol), col(idCol)),
      "Curation.attritionReport/exactDeduped")
    val pairs = nearDupPairs match {
      case Some(p) =>
        val ids = exactDeduped.select(col(idCol).as("__sid"))
        p.join(ids, col("id1") === col("__sid"), "left_semi")
          .join(ids, col("id2") === col("__sid"), "left_semi")
      case None => Dedup.minhashPairs(exactDeduped, idCol, textCol,
        threshold = cfg.nearDupThreshold)
    }
    val nearDeduped = Barrier.cut(
      Dedup.dropNearDuplicateClusters(exactDeduped, idCol, pairs),
      "Curation.attritionReport/nearDeduped")
    val decontaminated = Barrier.cut(decontaminateAgainst match {
      case Some((bench, bCol)) => decontaminate(nearDeduped, idCol, textCol,
        bench, bCol, cfg.decontamNgram, cfg.decontamMinHits)
      case None => nearDeduped
    }, "Curation.attritionReport/decontaminated")
    val semClean = Barrier.cut(semanticDecontaminateAgainst match {
      case Some(sd) =>
        val bad = semanticBadIds(decontaminated, idCol, sd)
        decontaminated.join(bad, decontaminated(idCol) === bad("id"), "left_anti")
      case None => decontaminated
    }, "Curation.attritionReport/semClean")
    def ids(df: DataFrame): DataFrame = df.select(col(idCol))
    def droppedAt(from: DataFrame, to: DataFrame, idx: Int, stage: String): DataFrame =
      ids(from).join(ids(to).withColumnRenamed(idCol, "__kid"),
          col(idCol) === col("__kid"), "left_anti")
        .select(col(idCol), lit(idx).as("stage_idx"), lit(stage).as("stage"))
    droppedAt(docs, filtered, 1, "lang_quality")
      .unionAll(droppedAt(filtered, exactDeduped, 2, "exact_dup"))
      .unionAll(droppedAt(exactDeduped, nearDeduped, 3, "near_dup"))
      .unionAll(droppedAt(nearDeduped, decontaminated, 4, "decontam"))
      .unionAll(droppedAt(decontaminated, semClean, 5, "semantic_decontam"))
      .unionAll(ids(semClean)
        .select(col(idCol), lit(6).as("stage_idx"), lit("kept").as("stage")))
  }

  /** The pipeline PREFIX — language/quality filter → PII scrub → exact
    * dedup → transitive near-dup removal — as a standalone stage: the
    * curated (but not yet chunked) corpus. Factored out because it is the
    * expensive, VARIANT-INDEPENDENT part: every downstream variant
    * (plain, decontaminated-against-benchmark-X, different chunk/pack
    * geometry) consumes the SAME curated corpus, so a job running several
    * variants should build this once ([[curatedCorpusFor]] persists it)
    * instead of paying the scrub+signature+CC chain per variant.
    */
  def curatedCorpus(docs: DataFrame, idCol: String, textCol: String,
                    cfg: Config = Config(),
                    nearDupPairs: Option[DataFrame] = None): DataFrame = {
    // Cheapest-first, highest-reduction-first: the language + quality
    // filter runs on the RAW text and the 3-pattern scrub chain only
    // touches surviving documents (a minority of a raw crawl). Filtering
    // pre-scrub is also the semantically safer order — redaction tags
    // never influence the language/quality decision. The predicate is the
    // FUSED native expression (one tokenization, codegen'd) —
    // bit-identical to the composed langId/qualityScore filters
    // (spec-pinned).
    val filtered = docs.filter(
      TextFunctions.langQualityKeep(col(textCol), cfg.keepLangs, cfg.minQuality))
    val scrubbed = filtered.withColumn(textCol, TextFunctions.scrubPii(col(textCol)))
    val exactDeduped = Barrier.cut(Dedup.exact(scrubbed, col(textCol), col(idCol)),
      "Curation.curatedCorpus/exactDeduped")
    val pairs = nearDupPairs match {
      case Some(p) =>
        val ids = exactDeduped.select(col(idCol).as("__sid"))
        p.join(ids, col("id1") === col("__sid"), "left_semi")
          .join(ids, col("id2") === col("__sid"), "left_semi")
      case None => Dedup.minhashPairs(exactDeduped, idCol, textCol,
        threshold = cfg.nearDupThreshold)
    }
    Dedup.dropNearDuplicateClusters(exactDeduped, idCol, pairs)
  }

  /** The pipeline SUFFIX — token-window chunking → budget packing — over
    * an already-curated corpus. Output: (doc_id, chunk_id, chunk_text,
    * n_tokens, pack_id), identical to [[pretrainingPipeline]]'s.
    */
  def chunkAndPack(corpus: DataFrame, idCol: String, textCol: String,
                   cfg: Config = Config()): DataFrame = {
    val chunks = Barrier.cut(Chunking.chunkByTokens(corpus, idCol, textCol,
        cfg.chunkTokens, cfg.chunkStride)
      .withColumnRenamed("chunk_text", "__text"), "Curation.chunkAndPack/chunks")
    // deterministic GLOBAL packing order = lexicographic (doc, chunk): the
    // composite-key prefix sum buckets on the doc id (~1000 docs/bucket) —
    // no fused numeric key, so arbitrary id magnitudes and chunk counts.
    Chunking.packByTokenBudget(chunks, Seq(idCol, "chunk_id"), "__text",
      cfg.packBudgetTokens, bucketSize = 1000L)
      .withColumnRenamed("__text", "chunk_text")
      .select(idCol, "chunk_id", "chunk_text", "n_tokens", "pack_id")
  }

  /** [[curatedCorpus]] memoized to its parquet layout — built ONCE per
    * (JVM, cacheKey, prefix-shaping config), written under
    * `spark.graft.indexDir` ([[IndexRoot]]) and re-read from disk, so
    * every pipeline variant over the same corpus (± decontamination,
    * different chunk geometry) shares one scrub+signature+CC pass — the
    * same build-once contract as [[Dedup.minhashIndexFor]]. Only the
    * PREFIX-shaping config fields key the artifact (chunk/pack geometry
    * is a suffix concern).
    */
  def curatedCorpusFor(docs: => DataFrame, cacheKey: String,
                       idCol: String, textCol: String,
                       cfg: Config = Config(),
                       nearDupPairs: => Option[DataFrame] = None): DataFrame = {
    val fullKey = s"$cacheKey|id=$idCol|txt=$textCol|langs=" +
      s"${cfg.keepLangs.toSeq.sorted.mkString(",")}|q=${cfg.minQuality}" +
      s"|ndt=${cfg.nearDupThreshold}|pairs=${nearDupPairs.isDefined}"
    IndexRoot.table("curated", fullKey)(
      curatedCorpus(docs, idCol, textCol, cfg, nearDupPairs = nearDupPairs))
  }

  /** SEMANTIC (embedding-space) contamination — the paraphrase-robust
    * complement of the verbatim n-gram [[contaminationHits]]: a corpus
    * item is contaminated when the cosine between its embedding and ANY
    * benchmark item's embedding reaches `threshold`, so reworded or
    * translated eval leakage that shares no 8-gram still flags. Run both
    * checks; each catches what the other structurally misses (the n-gram
    * join needs verbatim overlap, the embedding check needs an encoder
    * that maps the paraphrase nearby).
    *
    * Plan shape at 100 TB (the [[Similarity.knnJoin]] contract, with the
    * same enforced guard): the BENCHMARK side broadcasts — an eval suite
    * is 10³–10⁵ vectors — and the corpus STREAMS once with the cosine
    * computed inline in its scan stage; only hit rows (sparse by
    * construction) survive the stage. Nothing corpus-sized is shuffled or
    * materialized, and there is no index to build or refresh when the
    * suite changes — the suite IS the broadcast. When a benchmark
    * outgrows the broadcast budget, use [[semanticContaminationHitsLsh]]
    * (cross-table bucket join, no broadcast) — the same escape hatch the
    * n-gram path reaches via [[BloomConfig]].
    *
    * Returns ("id" — the corpus `idCol`, "bench_id", "cos"), one row per
    * (corpus item, benchmark item) pair at/above threshold.
    */
  def semanticContaminationHits(corpus: DataFrame, idCol: String, vecCol: String,
                                benchmark: DataFrame, benchIdCol: String,
                                benchVecCol: String, threshold: Double,
                                maxBenchmark: Long = 100000L): DataFrame = {
    require(maxBenchmark > 0, "maxBenchmark must be positive")
    val bCount = benchmark.limit((maxBenchmark + 1).min(Int.MaxValue).toInt).count()
    require(bCount <= maxBenchmark,
      s"semanticContaminationHits broadcasts the benchmark side, but it " +
        s"exceeds $maxBenchmark rows — use semanticContaminationHitsLsh " +
        "(cross-table bucket join, no broadcast) for benchmark sets this " +
        "large, or raise maxBenchmark if the driver can hold the broadcast")
    val b = broadcast(benchmark.select(col(benchIdCol).as("bench_id"),
      col(benchVecCol).as("__bvec")))
    corpus.select(col(idCol).as("id"), col(vecCol).as("__cvec"))
      .crossJoin(b)
      .select(col("id"), col("bench_id"),
        graft.functions.VectorFunctions.cosine(col("__cvec"), col("__bvec")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding decontamination as a filter: drops every corpus item with
    * at least one [[semanticContaminationHits]] row, preserving the
    * corpus schema. The anti-join's right side is the distinct hit id
    * set — sparse by construction, so AQE broadcasts it and the corpus
    * passes through without shuffling.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            benchmark: DataFrame, benchIdCol: String,
                            benchVecCol: String, threshold: Double,
                            maxBenchmark: Long = 100000L): DataFrame = {
    val bad = semanticContaminationHits(corpus, idCol, vecCol, benchmark,
      benchIdCol, benchVecCol, threshold, maxBenchmark)
      .select(col("id")).distinct()
    corpus.join(bad, corpus(idCol) === bad("id"), "left_anti")
  }

  /** [[semanticContaminationHits]] for the LARGE-benchmark regime the
    * broadcast guard points at — the escape hatch itself: candidates come
    * from a sign-LSH hash-bucket equi-join between the corpus's and the
    * suite's bucket codes ([[graft.functions.LshBucketCodes]], the
    * [[Dedup.embeddingPairsLsh]] family cross-table), vectors RIDE the
    * bucket join and the exact cosine verifies INLINE on the streamed
    * join output — never a broadcast, never a candidate materialization,
    * both sides shuffle once by bucket code (each linear in its own
    * size). Approximate wrt the exact scan (a hit is found only if the
    * pair shares ≥ 1 bucket; recall per the plane/table formula on
    * [[Dedup.embeddingPairsLsh]]) but fully DETERMINISTIC given the
    * seeded hyperplanes. The default tuning (`planes = 0` / `tables = 0`)
    * derives from the CORPUS count via [[LshTuning.forCorpus]] at
    * `threshold` — the suite is the small side; density lives in the
    * corpus. Same output shape as the exact path: ("id", "bench_id",
    * "cos"), hits only.
    */
  def semanticContaminationHitsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                                   benchmark: DataFrame, benchIdCol: String,
                                   benchVecCol: String, threshold: Double,
                                   planes: Int = 0, tables: Int = 0,
                                   seed: Long = 42L): DataFrame = {
    val (planesEff, tablesEff) =
      if (planes > 0 && tables > 0) (planes, tables)
      else {
        val t = LshTuning.forCorpus(corpus.count(), threshold)
        (if (planes > 0) planes else t.planes,
         if (tables > 0) tables else t.tables)
      }
    def bucketed(df: DataFrame, id: Column, vec: Column, idName: String, vecName: String) =
      df.select(id.as(idName), vec.as(vecName),
        explode(graft.functions.LshBucketCodes.column(vec, planesEff, tablesEff, seed))
          .as("bkt"))
    bucketed(corpus, col(idCol), col(vecCol), "id", "__cvec")
      .join(bucketed(benchmark, col(benchIdCol), col(benchVecCol), "bench_id", "__bvec"),
        Seq("bkt"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("__cvec"), col("__bvec")))
      .filter(col("cos") >= threshold)
      .select("id", "bench_id", "cos").distinct()
  }
}
