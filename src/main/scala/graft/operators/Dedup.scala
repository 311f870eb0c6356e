package graft.operators

import graft.functions.{MinHashFunctions, SimHashFunctions, TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB): every candidate-generation step is a hash-bucket
  * shuffle (LSH bands / SimHash chunks), never an O(n²) cross join; the
  * quadratic work only happens WITHIN buckets, whose expected size is O(1)
  * for non-pathological corpora. Exact paths used for oracle-checked
  * correctness queries state their blocking predicate explicitly.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Exact dedup: one surviving row per distinct value of `key` — the row
    * with the smallest `order` column (deterministic, unlike dropDuplicates).
    * Plans as a hash aggregate with map-side combine: one shuffle of one
    * struct per (partition, key).
    */
  def exact(df: DataFrame, key: Column, order: Column): DataFrame = {
    val rowStruct = struct(df.columns.map(col): _*)
    // tie-break only on orderable columns (maps can't join an ordering struct)
    val orderable = df.schema.fields
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(f => col(f.name))
    df.groupBy(key.as("__key"))
      .agg(graft.functions.ArgExtremum
        .argRow(rowStruct, struct((order +: orderable): _*), isMax = false).as("__row"))
      .select("__row.*")
  }

  /** MinHash + LSH near-duplicate PAIRS (docId1 < docId2).
    *
    * banding: the signature splits into `bands` bands of `rows` hashes; docs
    * agreeing on ANY whole band become candidates (one shuffle keyed by
    * (band index, band hash)); candidates are verified by the signature-level
    * Jaccard estimate (fraction of agreeing minhashes) ≥ `threshold`.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 128,
                   bands: Int = 32, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Materialized once (compact: id + numHashes longs): the signature table
    // feeds the banding explode AND both verify-join sides — without a
    // barrier every consumer re-tokenizes and re-hashes the full corpus.
    val sigs = Barrier.cut(
      signatureTable(df, idCol, textCol, shingleSize, numHashes),
      "Dedup.minhashPairs/sigs")
    minhashPairsFromIndex(MinhashIndex(sigs, bandTable(sigs, numHashes, bands)),
      numHashes, threshold)
  }

  /** The signature table (id, sig) of a corpus — ONE tokenize+hash pass. */
  private def signatureTable(df: DataFrame, idCol: String, textCol: String,
                             shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextFunctions.wordShingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        MinHashFunctions.minhashSignature(col("sh"), numHashes).as("sig"))

  /** Banded (id, band, bh) rows derived from a signature table. */
  private def bandTable(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bh"))))
          .as("bucket"))
      .select(col("id"), col("bucket.band"), col("bucket.bh"))
  }

  /** A PERSISTED MinHash index of a corpus snapshot, split into its two
    * production tables: `sigs` (id, sig — the verify side) and `bands`
    * (id, band, bh — the candidate-generation side, bucketed by the band
    * key in production). Every pair pipeline over the same corpus — pairs,
    * greedy drop, clustering, incremental probing — consumes ONE shared
    * signature pass through this layout instead of re-tokenizing the
    * corpus per query, which is exactly how a nightly index job amortizes
    * at 100 TB.
    */
  final case class MinhashIndex(sigs: DataFrame, bands: DataFrame)

  /** Build-once, consume-many index access: built ONE time per (JVM,
    * cacheKey), written as parquet, and re-read from disk — so consumers
    * across independent queries (and cache clears) share the single
    * signature pass. Mirrors [[Similarity.ivfIndexFor]].
    */
  def minhashIndexFor(df: => DataFrame, cacheKey: String,
                      idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 128,
                      bands: Int = 32): MinhashIndex = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val key = s"$cacheKey|id=$idCol|txt=$textCol|s=$shingleSize|h=$numHashes|b=$bands"
    // the bands derive from the persisted sigs, not from a second
    // tokenize+hash pass over the corpus
    val sigs = IndexRoot.table("minhash", s"$key|sigs")(
      signatureTable(df, idCol, textCol, shingleSize, numHashes))
    MinhashIndex(sigs,
      IndexRoot.table("minhash", s"$key|bands")(bandTable(sigs, numHashes, bands)))
  }

  /** Near-duplicate pairs from a prebuilt [[MinhashIndex]]: banded
    * candidate equi-join + signature-estimate verify — identical semantics
    * to [[minhashPairs]], zero tokenization.
    */
  def minhashPairsFromIndex(index: MinhashIndex, numHashes: Int,
                            threshold: Double): DataFrame = {
    // Candidates as PRIMITIVE id pairs only (a hash-aggregable distinct);
    // signatures re-join afterwards — keeping array columns inside the
    // dropDuplicates would force a SortAggregate over every candidate.
    val a = index.bands.select(col("band"), col("bh"), col("id").as("id1"))
    val b = index.bands.select(col("band"), col("bh"), col("id").as("id2"))
    val cand = a.join(b, Seq("band", "bh")).filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val s1 = index.sigs.select(col("id").as("id1"), col("sig").as("sig1"))
    val s2 = index.sigs.select(col("id").as("id2"), col("sig").as("sig2"))
    cand.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard",
        // native codegen'd verify kernel, NOT size(filter(zip_with(...))):
        // HOFs are CodegenFallback (interpreted per element, two
        // intermediate arrays per candidate pair) and this estimate is
        // paid once per banded candidate ([[graft.functions.SigMatchCount]];
        // bit-identical count, so thresholds and goldens are untouched)
        graft.functions.MinHashFunctions.sigMatchCount(col("sig1"), col("sig2"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id1", "id2", "est_jaccard")
  }

  /** Incremental probe between two [[MinhashIndex]] SLICES (e.g. today's
    * batch vs the historical snapshot): candidate pairs from the band
    * join, verified on the signature estimate — [[incrementalNearDups]]
    * without re-hashing either side.
    */
  def incrementalNearDupsIndexed(newIndex: MinhashIndex, oldIndex: MinhashIndex,
                                 numHashes: Int, threshold: Double,
                                 excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf semantics as in [[incrementalHammingPairs]]: batch
    // re-probes exclude same-id matches; streaming ingest loops pass
    // false so a re-sent published id is flagged as its own duplicate
    val cand = Barrier.cut(
      newIndex.bands.select(col("band"), col("bh"), col("id").as("new_id"))
        .join(oldIndex.bands.select(col("band"), col("bh"), col("id").as("old_id")),
          Seq("band", "bh"))
        .filter(if (excludeSelf) col("new_id") =!= col("old_id") else lit(true))
        .select("new_id", "old_id").distinct(),
      "Dedup.incrementalNearDupsIndexed/cand")
    // ^ the candidate set feeds BOTH the verify join and the sig-lookup
    // prune below; without the barrier the full band-collision join
    // (which scans the history index) runs twice (measured 14.6 s vs
    // 4 s for a 10k batch against a 490k-doc index)
    // the OLD side's signature lookup is pruned to candidate ids BEFORE
    // any aggregation: the candidate set is batch-collision-sized (AQE
    // broadcasts it), so history signatures are SCANNED once behind a
    // semi-join and never exchanged — without this, verifying against a
    // deduplicated full-history sig table costs an O(history) shuffle
    // PER BATCH (measured: the doc-loop batch grew 9.4 → 15.3 s across
    // a 10× history; the probe contract is O(batch × collision rate)).
    // Duplicate sig rows per id (the persisted band layout) collapse
    // AFTER the prune, where dropDuplicates is candidate-sized.
    val oldSigs = oldIndex.sigs.select(col("id").as("old_id"), col("sig").as("old_sig"))
      .join(cand.select("old_id").distinct(), Seq("old_id"), "left_semi")
      .dropDuplicates("old_id")
    cand
      .join(newIndex.sigs.select(col("id").as("new_id"), col("sig").as("new_sig")), "new_id")
      .join(oldSigs, "old_id")
      .withColumn("est_jaccard",
        // native verify kernel — see [[minhashPairsFromIndex]]'s note
        graft.functions.MinHashFunctions.sigMatchCount(
          col("new_sig"), col("old_sig")).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "old_id", "est_jaccard")
  }

  /** Restrict an index to the ids a predicate keeps (both tables). */
  def sliceIndex(index: MinhashIndex, keep: Column): MinhashIndex =
    MinhashIndex(index.sigs.filter(keep), index.bands.filter(keep))

  /** The persisted MinHash BAND INDEX of a corpus: one row per (band,
    * band-hash, id), with the full signature on the band-0 row only —
    * written once per corpus snapshot (bucketed by the band key in
    * production so incremental probes co-locate). This is what makes
    * dedup INCREMENTAL: a new batch checks against all history by
    * joining this table, never re-hashing the historical corpus.
    */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, numHashes: Int = 128,
                       bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    df.select(col(idCol).as("id"),
        TextFunctions.wordShingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        MinHashFunctions.minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bh"))))
          .as("bucket"))
      // the signature rides the band-0 row ONLY (null on the rest). A
      // sig on every band row is a `bands`× storage and SCAN
      // amplification that a probing batch pays per micro-batch
      // (measured: the sig column of a 490k-doc index decodes ~8 GB per
      // probe). Consumers read sigs as `filter(sig.isNotNull)`, which
      // also reads older indexes that carry the sig on every band row.
      .select(col("id"),
        when(col("bucket.band") === 0, col("sig")).as("sig"),
        col("bucket.band"), col("bucket.bh"))
  }

  /** INCREMENTAL near-dup detection: pairs (new doc, indexed doc) where a
    * new batch collides with the persisted [[minhashBandIndex]] of the
    * historical corpus — the daily-ingest shape. Cost is proportional to
    * |new batch| × collision rate: the history is only ever JOINED (by
    * its band key), never re-tokenized or re-hashed. Candidates verify
    * against the signature-level Jaccard estimate exactly like
    * [[minhashPairs]]; new-batch ids may equal indexed ids (a re-ingest)
    * and such self-matches are excluded.
    */
  def incrementalNearDups(newDocs: DataFrame, idCol: String, textCol: String,
                          bandIndex: DataFrame,
                          shingleSize: Int = 3, numHashes: Int = 128,
                          bands: Int = 32, threshold: Double = 0.7): DataFrame = {
    val newIdx = Barrier.cut(
      minhashBandIndex(newDocs, idCol, textCol, shingleSize, numHashes, bands),
      "Dedup.incrementalNearDups/newIdx")
    // cut: cand feeds the verify join AND the sig prune (the
    // double-band-join note in [[incrementalNearDupsIndexed]])
    val cand = Barrier.cut(
      newIdx.select(col("band"), col("bh"), col("id").as("new_id"))
        .join(bandIndex.select(col("band"), col("bh"), col("id").as("old_id")),
          Seq("band", "bh"))
        .filter(col("new_id") =!= col("old_id"))
        .select("new_id", "old_id").distinct(),
      "Dedup.incrementalNearDups/cand")
    val newSigs = newIdx.select(col("id").as("new_id"), col("sig").as("new_sig"))
      .filter(col("new_sig").isNotNull)
      .dropDuplicates("new_id")
    // candidate-pruned history sig lookup — see the cost-model note in
    // [[incrementalNearDupsIndexed]] (scan, never shuffle, the index);
    // isNotNull admits both the slim (sig on band 0 only) layout and
    // older indexes with the sig on every band row
    val oldSigs = bandIndex.select(col("id").as("old_id"), col("sig").as("old_sig"))
      .filter(col("old_sig").isNotNull)
      .join(cand.select("old_id").distinct(), Seq("old_id"), "left_semi")
      .dropDuplicates("old_id")
    cand.join(newSigs, "new_id").join(oldSigs, "old_id")
      .withColumn("est_jaccard",
        // native verify kernel — see [[minhashPairsFromIndex]]'s note
        graft.functions.MinHashFunctions.sigMatchCount(
          col("new_sig"), col("old_sig")).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "old_id", "est_jaccard")
  }

  /** Greedy near-dup removal from a pair list: drop every doc that has a
    * near-duplicate with a smaller id (single aggregation, no iterative
    * connected components — the standard one-pass policy for corpus dedup).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val toDrop = pairs.select(col("id2").as("__drop")).distinct()
    df.join(toDrop, df(idCol) === col("__drop"), "left_anti")
  }

  /** QUALITY-AWARE near-dup survivor policy: cluster the pair graph with
    * [[connectedComponents]] and keep, per cluster, the row with the
    * HIGHEST `score` (ties → smallest id) — "keep the best copy", the
    * curation policy when near-duplicates differ in quality (a clean
    * original vs a truncated scrape), where the min-id policies of
    * [[dropNearDuplicates]]/[[exact]] keep whichever happened to be
    * crawled first. Documents outside every pair trivially survive.
    *
    * `score` must cast to double; NULL scores rank below every non-null
    * score (a doc with no quality signal never beats a scored one; an
    * all-NULL cluster falls back to smallest id). Plan shape: the CC
    * fixpoint is O(|near-dup subgraph|) per round (see
    * [[connectedComponents]]); the keep step is ONE hash aggregate with
    * map-side combine (ArgExtremum — no per-cluster window sort).
    */
  def keepBestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                         score: Column, maxIter: Int = 25): DataFrame = {
    val comp = connectedComponents(df, idCol, pairs, maxIter)
      .select(col("id").as("__cid"), col("component").as("__comp"))
    val withComp = df.join(comp, df(idCol) === col("__cid")).drop("__cid")
    // min of (−score, id): max score, ties smallest id; NULL score → +∞
    // so it loses to any scored row
    val negScore = when(score.isNull, lit(Double.PositiveInfinity))
      .otherwise(-score.cast("double"))
    val rowStruct = struct(df.columns.map(col): _*)
    withComp.groupBy(col("__comp"))
      .agg(graft.functions.ArgExtremum
        .argRow(rowStruct, struct(negScore, col(idCol)), isMax = false).as("__row"))
      .select("__row.*")
  }

  /** DUPLICATE-MASS report per group (per source/host/crawl: how much of
    * each slice is duplicated content) — the governance face of a pair
    * table: per `groupCol` value, document counts, documents touched by
    * at least one near-dup pair, the exact dup share in ppm, and the
    * same three WEIGHTED (e.g. by chars or tokens: "duplicate token
    * mass", what dedup would actually reclaim from a training budget).
    * Integer ppm end to end (cnt·10⁶ div total, the cleared-denominator
    * discipline) so the dashboard never flickers across engines/reruns.
    *
    * Plan shape: the pair table collapses to a distinct member-id set
    * (pair-sized, never corpus-sized), one id-keyed left join marks
    * members, one map-combined aggregate per group — the report costs
    * the pair table plus one corpus scan.
    */
  def dupMassByGroup(docs: DataFrame, idCol: String, groupCol: String,
                     pairs: DataFrame,
                     weight: Column = lit(1L)): DataFrame = {
    // explode, not a union of two selects: the pair table is often an
    // expensive banded-join subtree, and a two-select union scans it twice
    val members = pairs
      .select(explode(array(col("id1"), col("id2"))).as("__mid"))
      .distinct()
      .withColumn("__dup", lit(1))
    docs.select(col(groupCol).as("group"), col(idCol).as("__mid"),
        weight.cast("long").as("__w"))
      .join(members, Seq("__mid"), "left")
      .groupBy("group")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__dup") === 1, 1L).otherwise(0L)).as("n_dup"),
        sum(col("__w")).as("w_total"),
        sum(when(col("__dup") === 1, col("__w")).otherwise(0L)).as("w_dup"))
      .select(col("group"), col("n_docs"), col("n_dup"),
        expr("n_dup * 1000000 DIV n_docs").as("dup_ppm"),
        col("w_total"), col("w_dup"),
        // all-zero / all-NULL weights would make this silently NULL
        // (x DIV 0 = NULL); report 0 instead — "no duplicate mass" is the
        // honest reading of a group with no mass at all (the
        // cleared-denominator discipline of Profile.categoricalDrift)
        when(col("w_total") > 0, expr("w_dup * 1000000 DIV w_total"))
          .otherwise(lit(0L)).as("dup_w_ppm"))
  }

  /** Cluster-SIZE histogram over a [[connectedComponents]] labeling: one
    * row per cluster size with the number of clusters of that size
    * (singletons included — they are the denominator that makes "0.3% of
    * clusters hold 40% of duplicates" readable). Two bounded hash
    * aggregates; nothing here scales past the component table.
    */
  def clusterSizeHistogram(components: DataFrame): DataFrame =
    components.groupBy("component")
      .agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_clusters"))

  /** CONNECTED COMPONENTS over a near-duplicate pair list: every document
    * labeled with the smallest id reachable through the pair graph — the
    * transitive closure [[dropNearDuplicates]]' one-hop policy misses
    * (A~B, B~C ⇒ {A,B,C} is ONE cluster even when A~C was never emitted).
    * The canonical cluster-then-keep-one stage of corpus dedup.
    *
    * Hash-min label propagation WITH pointer jumping: per round every node
    * takes the min of its own, its neighbors', and its current label's
    * label (path compression) — two joins + one hash aggregate per round,
    * converging in O(log n) rounds (plain 1-hop propagation needs
    * O(diameter), which a 10⁶-long chain turns into 10⁶ shuffles).
    * Iterating a fixpoint is a driver-side LOOP over plans, never over
    * rows; a [[Barrier.cut]] cuts the growing lineage each round so the
    * plan stays O(1) deep. Rows never collect to the driver — per round it
    * sees one Boolean (converged?).
    */
  def connectedComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    val und = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // iterate ONLY over nodes that have an edge: isolated documents (the
    // overwhelming majority of a corpus) can never change label, so the
    // iteration state is O(|near-dup subgraph|), not O(corpus) — they
    // rejoin with their own id as component at the end. Initial labels
    // already fold in the 1-hop neighbor minimum (round one for free:
    // one aggregate instead of a full propagate+jump+converge round).
    var labels = Barrier.cut(
      und.select(col("dst").as("id"), col("src").as("component"))
        .union(und.select(col("src").as("id"), col("src").as("component")))
        .groupBy("id").agg(min(col("component")).as("component")),
      "Dedup.connectedComponents/labels")
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // 1-hop: min label among neighbors
      val neighborMin = und
        .join(labels, und("src") === labels("id"))
        .groupBy(col("dst").as("nb_id"))
        .agg(min(col("component")).as("nb_comp"))
      val propagated = labels
        .join(neighborMin, labels("id") === col("nb_id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nb_comp"), col("component")))
            .as("__c1"))
      // pointer jump: follow the label's own label (path compression)
      val jumpTo = propagated.select(col("id").as("j_id"), col("__c1").as("j_comp"))
      val next = propagated
        .join(jumpTo, propagated("__c1") === col("j_id"), "left")
        .select(col("id"),
          least(col("__c1"), coalesce(col("j_comp"), col("__c1"))).as("component"),
          (least(col("__c1"), coalesce(col("j_comp"), col("__c1"))) < col("__old"))
            .as("__improved"))
      // ONE job per round: a LAZY checkpoint materializes (and truncates
      // lineage) as a side effect of the convergence aggregate running
      // over it — r4 spent a second full job per round on an eager
      // checkpoint followed by a separate filter(...).isEmpty probe.
      val checkpointed = Barrier.cut(next,
        s"Dedup.connectedComponents/round$iter", eager = false)
      val improved = checkpointed
        .agg(sum(when(col("__improved"), 1L).otherwise(0L))).head()
      converged = improved.isNullAt(0) || improved.getLong(0) == 0L
      labels = checkpointed.drop("__improved")
      iter += 1
    }
    if (!converged)
      logWarning(s"connectedComponents did NOT converge after $maxIter rounds " +
        "— component labels may be incomplete (raise maxIter)")
    und.unpersist()
    df.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("id", "__lid"), col("id") === col("__lid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Transitive near-duplicate removal: one surviving document (the
    * smallest id) per connected component of the pair graph.
    */
  def dropNearDuplicateClusters(df: DataFrame, idCol: String,
                                pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val keep = connectedComponents(df, idCol, pairs, maxIter)
      .filter(col("id") === col("component")).select("id")
    df.join(keep, df(idCol) === col("id"), "left_semi")
  }

  /** CROSS-DOCUMENT repeated-line removal — boilerplate dedup at
    * sub-document granularity (headers, navigation chrome, license
    * blocks): every occurrence of a line that already appeared earlier in
    * the corpus (earlier = smaller `(id, position)`) is dropped; the
    * globally-first occurrence survives. Lines shorter than `minLineLen`
    * characters (blank lines, separators) are always kept — deduping "",
    * "---" or "}" would shred every document.
    *
    * Scale: lines shuffle by their 64-bit hash, never by line text; the
    * first-occurrence computation is a hash aggregate (`min(struct(id,
    * pos))` with map-side combine — NOT a per-line window, which would
    * sort millions of tiny partitions); reassembly is one groupBy(id)
    * with an `array_sort` on (pos, line) structs, so no per-document
    * ordering relies on `collect_list`'s arrival order.
    *
    * Returns (id, text — surviving lines joined by newline, n_lines,
    * n_dropped). A document that loses EVERY line (all lines ≥
    * `minLineLen` and all seen earlier — i.e. pure boilerplate / a full
    * later duplicate) is dropped from the output entirely, which is the
    * dedup-correct outcome; documents containing any short line keep at
    * least those.
    */
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                        minLineLen: Int = 10): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__lh", xxhash64(col("line")))
    val firstSeen = lines.filter(length(col("line")) >= minLineLen)
      .groupBy("__lh")
      .agg(min(struct(col("id"), col("pos"))).as("__first"))
    val kept = lines
      .join(firstSeen, Seq("__lh"), "left")
      .filter(length(col("line")) < minLineLen ||
        (col("__first.id") === col("id") && col("__first.pos") === col("pos")))
    kept.groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as(textCol),
        count(lit(1)).as("__n_kept"))
      .join(df.select(col(idCol).as("__oid"),
          size(split(col(textCol), "\n")).cast("long").as("n_lines")),
        col("id") === col("__oid"))
      .select(col("id"), col(textCol), col("n_lines"),
        (col("n_lines") - col("__n_kept")).as("n_dropped"))
  }

  /** EXACT REPEATED-SPAN detection — substring-level dedup in the style of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2021, the ExactSubstr stage): maximal token spans covered by word
    * `gramSize`-grams that occur ≥ `minCount` times ANYWHERE in the corpus
    * (across documents or repeated within one). Returns (id, span_start,
    * span_end, span_tokens) in 0-based token positions; only spans of ≥
    * `minSpanTokens` tokens are reported.
    *
    * The suffix-array machinery of the paper is a single-node construct;
    * the same duplicated-span set falls out relationally: positional
    * grams (narrow per-row expression, 8-byte hashes — the q_dedup_ngram
    * collision argument), one corpus-wide gram-count hash aggregate
    * (map-side combined), an equi-join back, and per-DOCUMENT
    * gaps-and-islands windows (partitioned by id — no global window
    * anywhere). At 100 TB the count table is the big intermediate; it
    * shuffles 8-byte keys once and `minCount` prunes it before the join
    * (a Bloom pushdown of the duplicated-gram set, as in
    * [[Curation.contaminationHits]], slots in front of the join verbatim
    * if even that table outgrows broadcast).
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    gramSize: Int = 8, minCount: Long = 2,
                    minSpanTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= gramSize)
    // the positional gram table feeds BOTH the corpus count aggregate and
    // the join back — materialize so text tokenizes+hashes once, not once
    // per consumer (the minhashPairs fan-out argument)
    val posGrams = Barrier.cut(toks.select(col("id"),
      posexplode(transform(sequence(lit(0), size(col("__t")) - gramSize),
        i => xxhash64(concat_ws(" ", slice(col("__t"), i + 1, lit(gramSize))))))
        .as(Seq("pos", "__g"))), "Dedup.repeatedSpans/posGrams")
    val dupGrams = posGrams.groupBy("__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__g")
    val dupPos = posGrams.join(dupGrams, "__g")
      .select(col("id"), col("pos").cast("long").as("pos"))
    val w = Window.partitionBy("id").orderBy("pos")
    // gaps-and-islands: gram windows [p, p+k-1] chain while the next start
    // is within k of the previous (covered tokens stay contiguous)
    val isl = dupPos
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(w) <= gramSize, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__isl", sum(col("__new")).over(w))
    isl.groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + gramSize - 1).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .filter(col("span_tokens") >= minSpanTokens)
      .select("id", "span_start", "span_end", "span_tokens")
  }

  /** [[repeatedSpans]] as a text transform: duplicated spans are CUT from
    * every document carrying them (all occurrences — the aggressive
    * variant; pair with a first-occurrence policy offline if one copy
    * should survive). Documents with no qualifying span pass through with
    * their text BYTE-IDENTICAL (whitespace preserved); touched documents
    * are rebuilt from the surviving tokens of the [[graft.functions.TextFunctions.tokens]]
    * dialect, single-space joined. Output: the input columns with
    * `textCol` rewritten, plus `n_cut_tokens`.
    *
    * The rebuild is pure array arithmetic on the (small) per-doc span
    * list — token positions never explode or shuffle; only span structs
    * move.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          gramSize: Int = 8, minCount: Long = 2,
                          minSpanTokens: Int = 8): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, gramSize, minCount, minSpanTokens)
    val byDoc = spans.groupBy(col("id").as("__sid"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"),
        sum(col("span_tokens")).as("__n_cut"))
    val t = TextFunctions.tokens(col(textCol))
    val keptIdx = filter(sequence(lit(0), size(t) - 1),
      i => !exists(col("__spans"), s =>
        i >= s.getField("span_start") && i <= s.getField("span_end")))
    docs.join(byDoc, docs(idCol) === col("__sid"), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            transform(keptIdx, i => element_at(t, (i + 1).cast("int"))))))
      .withColumn("n_cut_tokens", coalesce(col("__n_cut"), lit(0L)))
      .drop("__sid", "__spans", "__n_cut")
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxDistance`.
    *
    * Candidate generation by the pigeonhole principle: the 64-bit hash splits
    * into `maxDistance + 1` chunks; a pair within distance d must agree on at
    * least one whole chunk, so candidates come from a hash-bucket join on
    * (chunk index, chunk value) — no cross join.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3, maxBucket: Int = 0): DataFrame =
    // two longs per doc, consumed by BOTH self-join sides — materialize so
    // the corpus is tokenized+hashed once, not once per side
    simhashPairsFromTable(Barrier.cut(simhashTable(df, idCol, textCol),
      "Dedup.simhashPairs/table"), maxDistance, maxBucket)

  /** The (id, sh) 64-bit simhash table of a corpus — one hash pass. */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), SimHashFunctions.simhashText(col(textCol)).as("sh"))

  /** [[simhashTable]] memoized to its persisted parquet layout. */
  def simhashTableFor(df: => DataFrame, cacheKey: String,
                      idCol: String, textCol: String): DataFrame =
    IndexRoot.table("simhash", s"$cacheKey|id=$idCol|txt=$textCol")(
      simhashTable(df, idCol, textCol))

  /** [[simhashPairs]] from a prebuilt (id, sh) table — zero hashing.
    *
    * Verification runs INLINE on the streamed chunk-join output (both
    * hashes are already in the join row; `bit_count(xor)` is one codegen'd
    * instruction) and only the verified, near-dup-sized pair set is
    * deduplicated. Ordering the `dropDuplicates` BEFORE verification —
    * the previous shape — exchanges the full CANDIDATE set, and for
    * STRUCTURED hashes (perceptual dHash/audio fingerprints, where a
    * smooth region makes one 16-bit chunk coincide across thousands of
    * items) candidates grow quadratically within chunk-value groups: a
    * 50k-image probe measured 35 s → this shape removes that exchange
    * entirely. Same verified-before-shuffled rule as
    * [[embeddingPairsLsh]].
    *
    * `maxBucket = 0` (default) is the EXACT all-pairs contract above.
    * `maxBucket > 0` arms the DEGENERATE-CHUNK GUARD for perceptual-hash
    * corpora, where verify-inline still leaves O(m²) join work inside a
    * (chunk, cv) group: smooth images / silent clips put thousands of
    * items on the SAME 16-bit chunk value (often the same full hash). In
    * guarded mode the output is a CONNECTIVITY CERTIFICATE rather than
    * the exhaustive pair list — same connected components, same survivor
    * set under smallest-id policies, linear where cliques are exact:
    *  1. exact-hash cliques collapse to their min-id representative and
    *     emit STAR edges (rep, member, 0) — |clique|−1 edges instead of
    *     |clique|²/2, with identical transitive closure;
    *  2. the pigeonhole join runs over DISTINCT hashes only;
    *  3. residual (chunk, cv) groups holding more than `maxBucket`
    *     DISTINCT hashes are skipped — recall is lost only for a pair
    *     whose EVERY agreeing chunk is oversized (the same quantified
    *     trade as the winnowing df cap), and exact duplicates are never
    *     lost (stars bypass the chunk join entirely).
    * The guard's own cost is one count per (chunk, cv) group — linear.
    */
  def simhashPairsFromTable(hashed: DataFrame, maxDistance: Int,
                            maxBucket: Int = 0): DataFrame = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    def chunkify(df: DataFrame) = df.select(col("id"), col("sh"),
      explode(array((0 until chunks).map(c => struct(lit(c).as("chunk"),
        shiftright(col("sh"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("cv"))): _*))
        .as("b"))
      .select(col("id"), col("sh"), col("b.chunk"), col("b.cv"))
    def pigeonhole(chunked: DataFrame) = {
      val a = chunked.select(col("chunk"), col("cv"), col("id").as("id1"), col("sh").as("sh1"))
      val b = chunked.select(col("chunk"), col("cv"), col("id").as("id2"), col("sh").as("sh2"))
      a.join(b, Seq("chunk", "cv")).filter(col("id1") < col("id2"))
        .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
        .filter(col("hamming") <= maxDistance)
        .dropDuplicates("id1", "id2")
        .select("id1", "id2", "hamming")
    }
    if (maxBucket <= 0) pigeonhole(chunkify(hashed))
    else {
      val reps = hashed.groupBy("sh").agg(min(col("id")).as("id"))
      val stars = hashed.select(col("sh"), col("id").as("id2"))
        .join(reps.select(col("sh"), col("id").as("id1")), Seq("sh"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), lit(0).as("hamming"))
      val chunked = chunkify(reps)
      val small = chunked.groupBy("chunk", "cv")
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
        .select("chunk", "cv")
      stars.union(pigeonhole(chunked.join(small, Seq("chunk", "cv"), "left_semi")))
    }
  }

  /** INCREMENTAL Hamming probe between two (id, sh) 64-bit hash tables —
    * the daily-ingest shape for SimHash text and the perceptual
    * image/audio hashes ([[Multimodal.dHash64]],
    * [[Multimodal.audioFingerprint64]]): a new batch's hashes probe the
    * persisted hash index of the historical corpus (8 bytes/item — the
    * index of a billion-item media lake is ~8 GB of longs), cost
    * O(new batch × chunk collisions); history is only ever JOINED by its
    * chunk key, never re-decoded or re-hashed. Same pigeonhole recall
    * guarantee and the same verify-inline-then-dedup ordering as
    * [[simhashPairsFromTable]]; ids may repeat across sides (re-ingest).
    *
    * `excludeSelf` (default true) drops same-id matches — the BATCH
    * re-probe contract, where yesterday's corpus re-run against the index
    * must not flag every item as its own duplicate. Streaming ingest
    * loops pass `excludeSelf = false`: there the new side is by
    * construction not yet published, so a same-id match IS a re-sent
    * duplicate of a published item and must be flagged
    * ([[graft.streaming.MediaStreams]]).
    *
    * `maxBucket` arms the degenerate-chunk guard exactly as in
    * [[simhashPairsFromTable]], reshaped for the probe: the INDEX side
    * collapses to one min-id representative per distinct hash, exact
    * matches ride a direct hash equi-join (never lost, never quadratic —
    * a batch item matching a million-member smooth-hash clique costs one
    * row), and residual (chunk, cv) groups with more than `maxBucket`
    * DISTINCT index hashes are skipped. Guarded `old_id` is the clique
    * representative, not necessarily the nearest member — callers that
    * only consume `new_id` (the ingest loops) are unaffected. When the
    * probe item IS the indexed clique's representative (re-probe under
    * `excludeSelf`), `old_id` is the clique's second-smallest member id,
    * so a duplicated item never silently reports "unique".
    */
  def incrementalHammingPairs(newHashes: DataFrame, indexHashes: DataFrame,
                              maxDistance: Int,
                              excludeSelf: Boolean = true,
                              maxBucket: Int = 0): DataFrame = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    val selfFilter =
      if (excludeSelf) col("new_id") =!= col("old_id") else lit(true)
    def chunked(df: DataFrame, idName: String, shName: String) =
      df.select(col("id").as(idName), col("sh").as(shName),
        explode(array((0 until chunks).map(c => struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("cv"))): _*))
          .as("b"))
        .select(col(idName), col(shName), col("b.chunk"), col("b.cv"))
    def probe(oldChunked: DataFrame) =
      chunked(newHashes, "new_id", "new_sh")
        .join(oldChunked, Seq("chunk", "cv"))
        .filter(selfFilter)
        .withColumn("hamming", bit_count(col("new_sh").bitwiseXOR(col("old_sh"))))
        .filter(col("hamming") <= maxDistance)
        .dropDuplicates("new_id", "old_id")
        .select("new_id", "old_id", "hamming")
    if (maxBucket <= 0) probe(chunked(indexHashes, "old_id", "old_sh"))
    else {
      val reps = indexHashes.groupBy("sh").agg(min(col("id")).as("id"))
      val exactBase = newHashes.select(col("id").as("new_id"), col("sh").as("new_sh"))
        .join(reps.select(col("id").as("__rep_id"), col("sh").as("old_sh")),
          col("new_sh") === col("old_sh"))
      val exactHits =
        (if (!excludeSelf)
           exactBase.select(col("new_id"), col("__rep_id").as("old_id"))
         else {
           // A probe item that IS the min-id representative of an indexed
           // exact-hash clique must still match the clique's OTHER members
           // (self-filtering the rep alone would report "no duplicate"
           // while unguarded mode reports every member): join the per-hash
           // SECOND-smallest id and emit (new_id, secondMin, 0) for the
           // rep-self case. One extra linear agg over the index side.
           val seconds = indexHashes
             .join(reps.select(col("sh"), col("id").as("__r")), Seq("sh"))
             .filter(col("id") =!= col("__r"))
             .groupBy("sh").agg(min(col("id")).as("__second_id"))
             .withColumnRenamed("sh", "__ssh")
           exactBase
             .join(seconds, col("new_sh") === col("__ssh"), "left")
             .select(col("new_id"),
               when(col("new_id") =!= col("__rep_id"), col("__rep_id"))
                 .otherwise(col("__second_id")).as("old_id"))
             .filter(col("old_id").isNotNull)
         })
        .select(col("new_id"), col("old_id"), lit(0).as("hamming"))
      val oldChunked = chunked(reps, "old_id", "old_sh")
      val small = oldChunked.groupBy("chunk", "cv")
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
        .select("chunk", "cv")
      exactHits.union(
        probe(oldChunked.join(small, Seq("chunk", "cv"), "left_semi"))
          .filter(col("hamming") >= 1))
    }
  }

  /** ALIGNED-POSITION Hamming pairs — the video-frame shape of the
    * pigeonhole join: input (id, pos, sh), candidates from a hash-bucket
    * join keyed by (pos, chunk, cv), so only same-position hashes of two
    * ids ever meet (frame 3 of clip A against frame 3 of clip B — the
    * cheap aligned clip-fingerprint match; an unaligned variant is a
    * different operator, not a parameter). Output one row per
    * (id1 < id2, pos) within `maxDistance`; verify-inline-then-dedup
    * ordering as [[simhashPairsFromTable]].
    */
  def alignedHammingPairs(posHashes: DataFrame, maxDistance: Int): DataFrame = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    val chunked = posHashes.select(col("id"), col("pos"), col("sh"),
      explode(array((0 until chunks).map(c => struct(lit(c).as("chunk"),
        shiftright(col("sh"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("cv"))): _*))
        .as("b"))
      .select(col("id"), col("pos"), col("sh"), col("b.chunk"), col("b.cv"))
    val a = chunked.select(col("pos"), col("chunk"), col("cv"),
      col("id").as("id1"), col("sh").as("sh1"))
    val b = chunked.select(col("pos"), col("chunk"), col("cv"),
      col("id").as("id2"), col("sh").as("sh2"))
    a.join(b, Seq("pos", "chunk", "cv")).filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("id1", "id2", "pos")
      .select("id1", "id2", "pos", "hamming")
  }

  /** INCREMENTAL [[alignedHammingPairs]]: a new batch's (id, pos, sh)
    * frame hashes probe the persisted frame-hash index of the published
    * corpus, joined by (pos, chunk, cv) — history is never re-decoded,
    * and only same-position frames ever meet. Output
    * (new_id, old_id, pos, hamming); `excludeSelf` semantics as in
    * [[incrementalHammingPairs]] (streaming loops pass false so a
    * re-sent published clip matches itself and is dropped).
    */
  def incrementalAlignedHammingPairs(newHashes: DataFrame, indexHashes: DataFrame,
                                     maxDistance: Int,
                                     excludeSelf: Boolean = true): DataFrame = {
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    def chunked(df: DataFrame, idName: String, shName: String) =
      df.select(col("id").as(idName), col("pos"), col("sh").as(shName),
        explode(array((0 until chunks).map(c => struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("cv"))): _*))
          .as("b"))
        .select(col(idName), col("pos"), col(shName), col("b.chunk"), col("b.cv"))
    chunked(newHashes, "new_id", "new_sh")
      .join(chunked(indexHashes, "old_id", "old_sh"), Seq("pos", "chunk", "cv"))
      .filter(if (excludeSelf) col("new_id") =!= col("old_id") else lit(true))
      .withColumn("hamming", bit_count(col("new_sh").bitwiseXOR(col("old_sh"))))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("new_id", "old_id", "pos")
      .select("new_id", "old_id", "pos", "hamming")
  }

  /** EXACT n-gram Jaccard pairs ≥ `threshold` via PREFIX FILTERING — the
    * scalable exact set-similarity join (PPJoin family), not an O(n²) cross
    * join.
    *
    * Shingles hash to longs and sort ascending — ONE fused per-row
    * expression ([[graft.functions.HashedShingles]]), no corpus-wide
    * frequency shuffle. Prefix filtering is exact under ANY fixed global
    * total order of the shingle universe: for Jaccard ≥ τ a pair must share
    * ≥ ⌈τ·|S|⌉ elements, so each side must expose a common element within
    * its first |S| − ⌈τ·|S|⌉ + 1 sorted elements (the "prefix"). Candidates
    * come from an equi-join on exploded prefix elements — a hash-bucket
    * shuffle whose volume is data-dependent, not quadratic — and are
    * verified with an exact linear merge intersect
    * ([[graft.functions.SortedIntersectCount]]). Provably no qualifying
    * pair is lost; the only approximation is the ~2⁻⁶⁴ shingle hash
    * collision. (r1 used the df-ascending PPJoin order, which minimizes
    * candidates but cost two full-corpus shuffles + a per-doc sort to
    * compute — 47% of the whole bench; the value order is frequency-blind
    * but free.)
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsFromSets(Barrier.cut(
      ngramSetTable(df, idCol, textCol, shingleSize),
      "Dedup.ngramJaccardPairs/sets"), threshold)

  /** The (id, hs, sz) sorted-hashed-shingle-set table — one pass. */
  def ngramSetTable(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.HashedShingles.column(col(textCol), shingleSize).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("id"), col("hs"), size(col("hs")).as("sz"))

  /** [[ngramSetTable]] memoized to its persisted parquet layout. */
  def ngramSetsFor(df: => DataFrame, cacheKey: String,
                   idCol: String, textCol: String,
                   shingleSize: Int = 3): DataFrame =
    IndexRoot.table(s"ngramsets$shingleSize", s"$cacheKey|id=$idCol|txt=$textCol")(
      ngramSetTable(df, idCol, textCol, shingleSize))

  /** [[ngramJaccardPairs]] from a prebuilt set table — zero tokenization. */
  def ngramJaccardPairsFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val prefixLen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val prefixes = sets.select(col("id"), col("sz"),
      explode(slice(col("hs"), lit(1), prefixLen)).as("tok"))
    val cands = prefixes.select(col("tok"), col("id").as("id1"), col("sz").as("sz1"))
      .join(prefixes.select(col("tok"), col("id").as("id2"), col("sz").as("sz2")), Seq("tok"))
      .filter(col("id1") < col("id2"))
      // lossless size bound: J ≥ τ ⇒ min ≥ τ/(1+τ)·(sum)
      .filter(least(col("sz1"), col("sz2")).cast("double") >=
        lit(threshold / (1 + threshold)) * (col("sz1") + col("sz2")))
      .select("id1", "id2").distinct()
    val s1 = sets.select(col("id").as("id1"), col("hs").as("hs1"), col("sz").as("sz1"))
    val s2 = sets.select(col("id").as("id2"), col("hs").as("hs2"), col("sz").as("sz2"))
    cands.join(s1, "id1").join(s2, "id2")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.column(col("hs1"), col("hs2")).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** DIRECTED n-gram CONTAINMENT pairs: (id1, id2, containment) where
    * `containment = |A∩B| / |A| ≥ threshold` — the ASYMMETRIC dedup
    * relation symmetric Jaccard structurally misses: a short document
    * quoted whole inside a longer one has tiny Jaccard (the union is
    * dominated by the container) but containment ≈ 1. The
    * quote/excerpt/aggregator-page detector.
    *
    * Candidates are LOSSLESS prefix-filter on the CONTAINED side: if
    * |A∩B| ≥ ⌈τ·|A|⌉ then A's first |A| − ⌈τ·|A|⌉ + 1 sorted shingles
    * must hit B (choosing ⌈τ·|A|⌉ elements of A entirely outside that
    * prefix is impossible — the count argument needs no global
    * ordering), so A explodes only its prefix while the container side
    * explodes its full shingle posting list; a plain equi-join on the
    * 64-bit shingle hash meets them. `maxDf` optionally drops shingles
    * in more than that many documents from candidate generation
    * (boilerplate posting-cap — the [[winnowPairs]] tradeoff: reported
    * pairs stay exact because verification reruns on full sets; pairs
    * whose ONLY prefix overlap is ultra-common shingles can be missed).
    * The size bound `|B| ≥ ⌈τ·|A|⌉` prunes impossible containers before
    * the distinct.
    */
  def ngramContainmentPairsFromSets(sets: DataFrame, threshold: Double,
                                    maxDf: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    require(maxDf > 0, "maxDf must be positive")
    val prefixLen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val aPref = sets.select(col("id").as("id1"), col("sz").as("sz1"),
      explode(slice(col("hs"), lit(1), prefixLen)).as("tok"))
    val postingsAll = sets.select(col("id").as("id2"), col("sz").as("sz2"),
      explode(col("hs")).as("tok"))
    val postings =
      if (maxDf == Int.MaxValue) postingsAll
      else {
        val dfCnt = postingsAll.groupBy("tok").agg(count(lit(1)).as("__df"))
        postingsAll.join(dfCnt.filter(col("__df") <= maxDf), "tok")
          .select("id2", "sz2", "tok")
      }
    val cands = aPref.join(postings, "tok")
      .filter(col("id1") =!= col("id2"))
      .filter(col("sz2") >= ceil(col("sz1") * threshold))
      .select("id1", "id2").distinct()
    val s1 = sets.select(col("id").as("id1"), col("hs").as("hs1"), col("sz").as("sz1"))
    val s2 = sets.select(col("id").as("id2"), col("hs").as("hs2"))
    cands.join(s1, "id1").join(s2, "id2")
      .withColumn("containment",
        graft.functions.SortedIntersectCount.column(col("hs1"), col("hs2"))
          .cast("double") / col("sz1"))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")
  }

  /** [[ngramContainmentPairsFromSets]] from raw text — one shingle pass. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.8,
                            maxDf: Int = Int.MaxValue): DataFrame =
    ngramContainmentPairsFromSets(Barrier.cut(
      ngramSetTable(df, idCol, textCol, shingleSize),
      "Dedup.ngramContainmentPairs/sets"), threshold, maxDf)

  /** Substring-sharing pairs via winnowing fingerprints
    * ([[graft.functions.RollingFingerprint]]): inverted-index join on the
    * local-minimum Rabin–Karp hashes, pairs ranked by shared-fingerprint
    * count. `maxDf` drops fingerprints appearing in more than that many
    * documents (boilerplate/stop-phrases) — the posting-list cap that keeps
    * the join linear-ish at corpus scale; detection quality for distinctive
    * shared substrings is unaffected.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 12, w: Int = 16,
                  minShared: Int = 3, maxDf: Int = 100): DataFrame =
    // the exploded posting list feeds the df-count aggregation AND the
    // inverted-index join — materialize so the rolling-hash pass over the
    // corpus runs once
    winnowPairsFromPostings(Barrier.cut(
      winnowPostingsTable(df, idCol, textCol, k, w),
      "Dedup.winnowPairs/postings"), minShared, maxDf)

  /** The exploded (id, fp) winnowing posting list — one rolling-hash pass. */
  def winnowPostingsTable(df: DataFrame, idCol: String, textCol: String,
                          k: Int, w: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.RollingFingerprint.column(col(textCol), k, w)).as("fp"))

  /** [[winnowPostingsTable]] memoized to its persisted parquet layout. */
  def winnowPostingsFor(df: => DataFrame, cacheKey: String,
                        idCol: String, textCol: String,
                        k: Int = 12, w: Int = 16): DataFrame =
    IndexRoot.table(s"winnow${k}_$w", s"$cacheKey|id=$idCol|txt=$textCol")(
      winnowPostingsTable(df, idCol, textCol, k, w))

  /** [[winnowPairs]] from a prebuilt posting list — zero hashing. */
  def winnowPairsFromPostings(fps: DataFrame, minShared: Int = 3,
                              maxDf: Int = 100): DataFrame = {
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    val indexed = fps.join(rare, "fp")
    val a = indexed.select(col("fp"), col("id").as("id1"))
    val b = indexed.select(col("fp"), col("id").as("id2"))
    a.join(b, "fp").filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Embedding-cosine near-duplicate pairs ≥ `threshold` — EXACT brute
    * force. O(n²): this is the ORACLE ANCHOR for small corpora and the
    * recall reference for [[embeddingPairsLsh]], which is the production
    * path at scale.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("cos", VectorFunctions.cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos")
  }

  /** SEMANTIC DEDUP (the SemDeDup policy, Abbas et al. 2023,
    * arXiv:2303.09540): embedding near-dup removal blocked by a coarse
    * k-means clustering — within each cluster, pairs at cosine ≥
    * `threshold` are near-duplicates and the smaller id survives; pairs
    * CROSSING cluster boundaries are deliberately never examined (that is
    * the approximation that makes the policy tractable, identical to the
    * paper's).
    *
    * Input is an IVF assignment table ([[Similarity.ivfIndexFor]] /
    * `loadIvf`): the cluster id is `clusterCol`. Pair generation is one
    * self equi-join ON THE CLUSTER KEY — quadratic work happens only
    * within clusters (Σ|cluster|² instead of n²), and because the index
    * layout is partitioned by cluster, candidates are partition-local at
    * the source. Verification is the exact codegen'd cosine.
    */
  def semanticDedup(assigned: DataFrame, idCol: String, vecCol: String,
                    threshold: Double,
                    clusterCol: String = "__cluster"): DataFrame = {
    val a = assigned.select(col(clusterCol).as("__c"),
      col(idCol).as("id1"), col(vecCol).as("__v1"))
    val b = assigned.select(col(clusterCol).as("__c"),
      col(idCol).as("id2"), col(vecCol).as("__v2"))
    val pairs = a.join(b, "__c")
      .filter(col("id1") < col("id2"))
      .filter(VectorFunctions.cosine(col("__v1"), col("__v2")) >= threshold)
      .select("id1", "id2")
    dropNearDuplicates(assigned, idCol, pairs)
  }

  /** Embedding-cosine near-duplicate pairs via MULTI-TABLE sign-LSH
    * blocking — the production embedding near-dup path: candidates come
    * from a hash-bucket equi-join on (table, bucket) codes
    * ([[graft.functions.LshBucketCodes]]), never a cross join, then verify
    * with exact double cosine. Quadratic work happens only WITHIN buckets
    * (expected O(n²/2^planes) per table).
    *
    * Recall for a pair at angle θ is 1 − (1 − (1 − θ/π)^planes)^tables:
    * more tables buy recall, more planes cut candidates. Defaults target
    * the near-dup regime (cos ≥ ~0.8); lower `planes` for lower thresholds.
    *
    * FIXED tuning does not survive corpus growth (the 10× sweep measured
    * 26× wall-clock at 10× density with sf0.1 tuning) — so the DEFAULT
    * (`planes = 0` / `tables = 0`) derives both from the corpus count via
    * [[LshTuning.forCorpus]], which caps expected bucket occupancy and
    * solves the table count for a target recall. The count is one cheap
    * job over the (persisted) id+vector projection; callers that know
    * their density pass explicit values and skip it.
    *
    * `maxBucket = 0` (default) is the exact-over-candidates contract
    * above. `maxBucket > 0` arms the DEGENERATE-CLIQUE GUARD —
    * [[simhashPairsFromTable]]'s `maxBucket` certificate, ported to the
    * embedding family: [[LshTuning.forCorpus]] caps EXPECTED occupancy,
    * but a scraped corpus where thousands of empty/boilerplate documents
    * embed IDENTICALLY puts all of them in the same bucket of every
    * table — O(m²) inline cosine work that no tuning prevents. In
    * guarded mode the output is a CONNECTIVITY CERTIFICATE (same
    * connected components, same min-id survivor set, linear where
    * cliques are exact):
    *  1. exact-duplicate VECTORS collapse to their min-id representative
    *     and emit star edges (rep, member, cos(v,v)) — |clique|−1 rows,
    *     threshold-filtered like any pair (a zero vector's cos(v,v) is 0
    *     by the cosine convention, so degenerate vectors never
    *     self-pair, exactly as unguarded);
    *  2. the bucket join runs over DISTINCT vectors only;
    *  3. residual buckets holding more than `maxBucket` DISTINCT vectors
    *     are skipped — recall is lost only for a pair whose EVERY shared
    *     bucket is oversized (the [[simhashPairsFromTable]] trade), and
    *     exact duplicates are never lost (stars bypass the join).
    * The guard's own cost is one vector-keyed exchange (linear,
    * vector-width) plus a count per bucket.
    */
  def embeddingPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, planes: Int = 0, tables: Int = 0,
                        seed: Long = 42L,
                        maxBucket: Int = 0): DataFrame = {
    val base = Barrier.cut(df.select(col(idCol).as("id"), col(vecCol).as("v")),
      "Dedup.embeddingPairsLsh/base")
    val (planesEff, tablesEff) =
      if (planes > 0 && tables > 0) (planes, tables)
      else {
        val t = LshTuning.forCorpus(base.count(), threshold)
        (if (planes > 0) planes else t.planes,
         if (tables > 0) tables else t.tables)
      }
    // The vector RIDES THROUGH the bucket join and verification happens
    // INLINE on the streamed join output; only the verified (near-dup-
    // sized) pair set is ever deduplicated. The previous shape collected
    // ids-only candidates, ran `distinct()` over them, then joined the
    // vectors back by id — but the candidate set is the QUADRATIC
    // quantity (Σ bucket occupancy² per table; at a 200k-vector probe it
    // reached ~10⁹ rows and its dedup exchange spilled past local disk),
    // so a full exchange of candidates + two candidate-sized vector
    // joins is exactly the wrong thing to shuffle. Carrying the vector
    // costs vector-width × n·tables on the ONE bucket exchange — linear
    // in the corpus — and a duplicate verification per extra co-bucket
    // table, which only near-dup pairs (few) hit often; far pairs rarely
    // co-bucket twice. Verified cos is a pure function of the pair, so
    // the final distinct collapses duplicates exactly.
    def bucketedOf(tbl: DataFrame) = tbl.select(col("id"), col("v"),
      explode(graft.functions.LshBucketCodes.column(col("v"), planesEff, tablesEff, seed))
        .as("bkt"))
    def pairsOf(bucketed: DataFrame) =
      bucketed.select(col("bkt"), col("id").as("id1"), col("v").as("v1"))
        .join(bucketed.select(col("bkt"), col("id").as("id2"), col("v").as("v2")),
          Seq("bkt"))
        .filter(col("id1") < col("id2"))
        .withColumn("cos", VectorFunctions.cosine(col("v1"), col("v2")))
        .filter(col("cos") >= threshold)
        .select("id1", "id2", "cos").distinct()
    if (maxBucket <= 0) pairsOf(bucketedOf(base))
    else {
      val reps = Barrier.cut(base.groupBy("v").agg(min(col("id")).as("id")),
        "Dedup.embeddingPairsLsh/reps")
      val stars = base.select(col("v"), col("id").as("id2"))
        .join(reps.select(col("v"), col("id").as("id1")), Seq("v"))
        .filter(col("id1") < col("id2"))
        // cos via the same pairwise expression on (v, v): bit-identical
        // to what the unguarded path emits for an exact-duplicate pair
        .withColumn("cos", VectorFunctions.cosine(col("v"), col("v")))
        .filter(col("cos") >= threshold)
        .select("id1", "id2", "cos")
      val bucketed = bucketedOf(reps.select(col("id"), col("v")))
      val small = bucketed.groupBy("bkt").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucket).select("bkt")
      stars.union(pairsOf(bucketed.join(small, Seq("bkt"), "left_semi")))
    }
  }

  /** The persisted EMBEDDING LSH index rows — the probe side of
    * [[incrementalEmbeddingPairsLsh]], completing the incremental-dedup
    * matrix (text → MinHash band index, image/audio → 8-byte hash index,
    * video → frame-hash index, embeddings → THIS): (id, v, bkt), one row
    * per (id, table) bucket code ([[graft.functions.LshBucketCodes]],
    * table id packed in the code's high bits), with the VECTOR carried on
    * the first bucket row ONLY — the band index's slim-sig layout: bucket
    * rows are 16-byte (id, long) probes, the `tables`×-amplified rows
    * never repeat the vector, and consumers read vectors as
    * `filter(v.isNotNull)`.
    *
    * The index OWNS the tuning: probes must present the same
    * (planes, tables, seed) or candidates are meaningless — same contract
    * as the MinHash band index owning (shingleSize, numHashes, bands).
    */
  def embeddingLshIndex(df: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 3, tables: Int = 8,
                        seed: Long = 42L): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"),
        posexplode(graft.functions.LshBucketCodes.column(col("v"), planes, tables, seed))
          .as(Seq("__p", "bkt")))
      .select(col("id"),
        when(col("__p") === 0, col("v")).as("v"), col("bkt"))

  /** INCREMENTAL embedding near-dup probe: a new batch's vectors against
    * the persisted [[embeddingLshIndex]] of the published corpus —
    * history is only ever JOINED by its bucket codes, never re-hashed.
    * Candidates are (new, indexed) pairs sharing ANY table's bucket code;
    * per-batch cost is O(batch × collision rate), not O(history): the
    * candidate set is batch-collision-sized (distinct over it is a small
    * exchange — unlike the all-pairs self-join, where candidates are the
    * quadratic quantity and ride the join un-exchanged), and the index's
    * vector lookup is PRUNED to candidate ids behind a broadcast
    * semi-join before any dedup, so history vectors are scanned once and
    * never shuffled (the [[incrementalNearDupsIndexed]] cost model).
    * Exact cosine verifies the survivors; output (new_id, old_id, cos).
    * `excludeSelf` semantics as in [[incrementalHammingPairs]] (streaming
    * loops pass false so a re-sent published id matches itself).
    *
    * The batch is probed through the degenerate-clique guard's LOSSLESS
    * incremental form: exact-duplicate batch vectors collapse to their
    * min-id representative BEFORE the bucket probe, and rep results
    * expand back to every member afterwards. Unlike the certificate mode
    * of [[embeddingPairsLsh]], the output equals a per-vector probe —
    * members share the rep's bucket codes (same candidates) and its
    * vector bytes (same cos), and self-pairs are filtered post-expansion
    * — while a batch of m identical vectors pays ONE probe against the
    * index instead of m (the boilerplate-document ingest hazard).
    * Assumes a well-formed batch: at most one distinct vector per id
    * (exact duplicate ROWS are fine — ids dedup first).
    */
  def incrementalEmbeddingPairsLsh(newVecs: DataFrame, idCol: String, vecCol: String,
                                   index: DataFrame, threshold: Double,
                                   planes: Int = 3, tables: Int = 8,
                                   seed: Long = 42L,
                                   excludeSelf: Boolean = true): DataFrame = {
    val rawNew = Barrier.cut(
      newVecs.select(col(idCol).as("new_id"), col(vecCol).as("__nv")),
      "Dedup.incrementalEmbeddingPairsLsh/rawNew")
    val distinctNew = Barrier.cut(rawNew.dropDuplicates("new_id"),
      "Dedup.incrementalEmbeddingPairsLsh/distinctNew")
    val reps = Barrier.cut(
      distinctNew.groupBy("__nv").agg(min(col("new_id")).as("new_id")),
      "Dedup.incrementalEmbeddingPairsLsh/reps")
    val members = distinctNew
      .join(reps.select(col("__nv"), col("new_id").as("__rep")), Seq("__nv"))
      .select(col("__rep"), col("new_id"))
    val repBuckets = reps.select(col("new_id"),
      explode(graft.functions.LshBucketCodes.column(col("__nv"), planes, tables, seed))
        .as("bkt"))
    // cand feeds the verify join AND the vector-lookup prune — barrier it
    val cand = Barrier.cut(
      repBuckets.join(index.select(col("bkt"), col("id").as("old_id")), Seq("bkt"))
        .select("new_id", "old_id").distinct(),
      "Dedup.incrementalEmbeddingPairsLsh/cand")
    val oldVecs = index.filter(col("v").isNotNull)
      .select(col("id").as("old_id"), col("v").as("__ov"))
      .join(cand.select("old_id").distinct(), Seq("old_id"), "left_semi")
      .dropDuplicates("old_id")
    // self-pairs are filtered AFTER expansion: filtering at rep level
    // would drop the whole clique's matches whenever the REP's id
    // happens to collide with an indexed id
    cand
      .join(reps.dropDuplicates("new_id"), "new_id")
      .join(oldVecs, "old_id")
      .withColumn("cos", VectorFunctions.cosine(col("__nv"), col("__ov")))
      .filter(col("cos") >= threshold)
      .select(col("new_id").as("__rep"), col("old_id"), col("cos"))
      .join(members, Seq("__rep"))
      .filter(if (excludeSelf) col("new_id") =!= col("old_id") else lit(true))
      .select("new_id", "old_id", "cos")
  }

  // --- Content-defined chunking: the storage-layer dedup rung -------------

  /** The CDC chunk table of a binary column: one row per content-defined
    * chunk `(id, offset, length, hash)` — Gear rolling-hash boundaries +
    * FNV-1a content hashes ([[graft.functions.CdcChunks]]; native
    * codegen'd expression, one compiled pass per blob). This is the
    * dedup matrix extended to the STORAGE layer: shingles/perceptual
    * hashes/cosine find similar content, the chunk table finds
    * byte-identical sub-regions a dedup-aware store keeps once.
    * NULL blobs contribute no rows (explode drops them); chunking is
    * embarrassingly parallel — no shuffle until someone aggregates.
    */
  def cdcChunkTable(df: DataFrame, idCol: String, binCol: String,
                    minSize: Int = 2048, maskBits: Int = 11,
                    maxSize: Int = 65536): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.CdcChunks.column(col(binCol),
          minSize, maskBits, maxSize)).as("__c"))
      .select(col("id"), col("__c.offset").as("offset"),
        col("__c.length").as("length"), col("__c.hash").as("hash"))

  /** The storage-dedup headline over a [[cdcChunkTable]]: logical bytes
    * (every copy), stored bytes (each distinct `(hash, length)` chunk
    * once — the length in the key guards FNV collisions across lengths),
    * chunk counts, and the saved-bytes delta. One map-combined aggregate
    * over the chunk table, then a one-row reduce — the "what would a
    * dedup-aware store save on this corpus" number.
    */
  def cdcDedupStats(chunks: DataFrame): DataFrame =
    chunks.groupBy("hash", "length")
      .agg(count(lit(1)).as("__n"))
      .agg(sum(expr("__n * length")).as("logical_bytes"),
        sum(col("length")).as("stored_bytes"),
        sum(col("__n")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"))
      .withColumn("saved_bytes", col("logical_bytes") - col("stored_bytes"))

  /** INCREMENTAL storage dedup — the daily-ingest twin of
    * [[cdcDedupStats]], completing the dedup matrix's last family
    * (text/media/video/embeddings all have incremental probes; this is
    * the chunk-store's): chunk the NEW batch, probe the persisted
    * `(hash, length)` chunk index of history, and annotate every batch
    * chunk with what a dedup-aware store would do with it:
    *
    *   - `'hit'`   — the `(hash, length)` key exists in history: stored
    *                 already, write nothing;
    *   - `'first'` — a new key's FIRST batch occurrence (min `(id,
    *                 offset)`): this is the chunk the store writes;
    *   - `'dup'`   — an intra-batch repeat of a `'first'`: deduped
    *                 against the batch itself.
    *
    * Plan shape is the [[incrementalHammingPairs]] discipline: history is
    * SCANNED, never shuffled — the batch's distinct keys broadcast into a
    * left-semi probe of the index, and everything after operates on
    * batch-sized tables. At 100 TB the chunk index is the big side and a
    * day's ingest the small one; a plan that shuffled the index would be
    * the bottleneck.
    */
  def incrementalCdcChunks(newBlobs: DataFrame, idCol: String,
                           binCol: String, chunkIndex: DataFrame,
                           minSize: Int = 2048, maskBits: Int = 11,
                           maxSize: Int = 65536): DataFrame =
    incrementalCdcChunksReleasable(newBlobs, idCol, binCol, chunkIndex,
      minSize, maskBits, maxSize)._1

  /** [[incrementalCdcChunks]] plus a release handle for the batch chunk
    * table it cuts (the chunk table feeds three subtrees — keys, firsts,
    * and the annotate join). Long-running callers
    * ([[graft.streaming.ChunkStoreStreams]]'s per-micro-batch loop) MUST
    * call the handle once the annotated result is materialized, or each
    * batch leaks one block set for the life of the JVM (disk blocks are
    * not LRU-evicted until unpersist). The handle is [[Barrier.release]]:
    * idempotent, and fatal to any later use of the unmaterialized result.
    */
  def incrementalCdcChunksReleasable(newBlobs: DataFrame, idCol: String,
                                     binCol: String, chunkIndex: DataFrame,
                                     minSize: Int = 2048, maskBits: Int = 11,
                                     maxSize: Int = 65536)
      : (DataFrame, () => Unit) = {
    // eager cut ([[Barrier]]): the chunk table's three consumers are
    // branches of ONE downstream execution; the CDC chunk pass runs once
    val batch = Barrier.cut(cdcChunkTable(newBlobs, idCol, binCol,
      minSize, maskBits, maxSize), "Dedup.incrementalCdcChunks/batch")
    val batchKeys = batch.select("hash", "length").distinct()
    // history scan with the batch keys broadcast: output ≤ |batch keys|
    val hitKeys = chunkIndex.select("hash", "length")
      .join(broadcast(batchKeys), Seq("hash", "length"), "left_semi")
      .distinct()
    // first batch occurrence per key, window-free: one min(struct) agg
    val firsts = batch.groupBy("hash", "length")
      .agg(min(struct(col("id"), col("offset"))).as("__f"))
      .select(col("hash"), col("length"),
        col("__f.id").as("__fid"), col("__f.offset").as("__foff"))
    val annotated = batch
      .join(broadcast(hitKeys.withColumn("__hit", lit(1))),
        Seq("hash", "length"), "left")
      .join(broadcast(firsts), Seq("hash", "length"))
      .select(col("id"), col("offset"), col("length"), col("hash"),
        when(col("__hit").isNotNull, lit("hit"))
          .when(col("id") === col("__fid") && col("offset") === col("__foff"),
            lit("first"))
          .otherwise(lit("dup")).as("status"))
    (annotated, () => Barrier.release(batch))
  }

  /** The ingest headline over an [[incrementalCdcChunks]] table: what the
    * batch weighed, what hit the store, what deduped within the batch,
    * and what actually got written. One map-combined aggregate.
    */
  def cdcIngestStats(annotated: DataFrame): DataFrame =
    annotated.agg(
      count(lit(1)).as("batch_chunks"),
      sum(col("length")).as("batch_bytes"),
      sum(when(col("status") === "hit", 1L).otherwise(0L)).as("hit_chunks"),
      sum(when(col("status") === "hit", col("length")).otherwise(0L)).as("hit_bytes"),
      sum(when(col("status") === "dup", 1L).otherwise(0L)).as("dup_chunks"),
      sum(when(col("status") === "dup", col("length")).otherwise(0L)).as("dup_bytes"),
      sum(when(col("status") === "first", 1L).otherwise(0L)).as("stored_chunks"),
      sum(when(col("status") === "first", col("length")).otherwise(0L)).as("stored_bytes"))
}
