package graft.operators

import graft.functions.TopN
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Driver-side twin of [[Profile]]'s md5 bucket convention
  * (`conv(substring(md5("item:r"), 1, 8), 16, 10) % width`) — the
  * quantile walk runs over the collected bounded sketch and must land in
  * bit-identical buckets.
  */
private[graft] object QuantileSketchHash {
  def bucket(item: String, r: Int, width: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$item:$r".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % width
  }
}

/** One-pass column profiler — the "what is in this table" primitive every
  * 100 TB curation pipeline runs before anything else.
  *
  * A single aggregation computes, per column: non-null count, distinct
  * count, min and max (as canonical strings). One scan, one partial+final
  * hash aggregate, output is one row per column — no per-column jobs, no
  * driver-side loops.
  *
  * `exactDistinct=false` (the default, and the only sane setting at scale)
  * uses HyperLogLog++ (`approx_count_distinct`), whose sketch merges
  * map-side. `exactDistinct=true` is for small-data oracle checks: Spark
  * plans multiple exact count-distincts via Expand (input replicated per
  * distinct column), which is O(rows × columns) — documented scale hazard.
  *
  * Non-orderable columns (maps) profile as count-only: their distinct /
  * min / max are null rather than an analysis error.
  */
object Profile {

  def profile(df: DataFrame, columns: Seq[String] = Nil,
              exactDistinct: Boolean = false): DataFrame = {
    val names = if (columns.isEmpty) df.columns.toSeq else columns
    val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggs = names.flatMap { c =>
      val orderable = RowOrdering.isOrderable(fieldType(c))
      val distinct =
        if (!orderable) lit(null).cast("long")
        else if (exactDistinct) count_distinct(col(c))
        else approx_count_distinct(col(c))
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        distinct.as(s"__dst_$c"),
        (if (orderable) min(col(c)).cast("string") else lit(null).cast("string"))
          .as(s"__min_$c"),
        (if (orderable) max(col(c)).cast("string") else lit(null).cast("string"))
          .as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    finish(one, names)
  }

  /** Per-group quantiles of a numeric column. `exact=false` (default, the
    * scale path) uses the t-digest sketch (`approx_percentile`): fixed
    * memory per group, mergeable map-side. `exact=true` buffers every
    * group value in the aggregation buffer — O(|group|) memory, the
    * documented hazard — but interpolates precisely (used by the oracle
    * battery, where quantile definitions must match DuckDB bit-for-bit).
    */
  def groupQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     probs: Seq[Double], exact: Boolean = false): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1), "probs in [0,1]")
    val aggsQ = probs.map { p =>
      val name = s"p${(p * 100).round}"
      if (exact) percentile(col(valueCol), lit(p)).as(name)
      else percentile_approx(col(valueCol), lit(p), lit(10000)).as(name)
    }
    df.groupBy(groupCols.map(col): _*).agg(aggsQ.head, aggsQ.tail: _*)
  }

  /** EQUAL-WIDTH histogram of an INTEGER column in exact integer
    * arithmetic: bucket = `(v − min) · nBuckets div (max − min + 1)` —
    * always 0..nBuckets−1, every boundary computed in integer division,
    * so two engines bucket identically (a float-width histogram can
    * disagree at exact boundaries). Returns one row per NON-EMPTY bucket:
    * (bucket, cnt, lo, hi) with lo/hi the bucket's observed value range.
    * NULL values are excluded ([[profile]]'s n_nulls counts them).
    *
    * One min/max pass + one hash aggregate (map-side combined; at most
    * nBuckets groups shuffle). Overflow bound: `(max − min) · nBuckets`
    * must fit a long — true for any realistic profile; pre-scale the
    * column otherwise. For DOUBLE columns use [[groupQuantiles]] or a
    * width_bucket projection instead — floats have no exact-boundary
    * story.
    */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val v = col(valueCol).cast("long")
    val bounds = df.agg(min(v).as("lo"), max(v).as("hi")).head()
    if (bounds.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("bucket"), lit(0L).as("cnt"),
          lit(0L).as("lo"), lit(0L).as("hi")).limit(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = hi - lo + 1
    // NULL values are EXCLUDED (they have no bucket; Profile.profile's
    // n_nulls counts them) — keeping them would emit an out-of-contract
    // bucket=NULL row
    df.filter(v.isNotNull)
      .select(expr(s"((CAST($valueCol AS BIGINT) - $lo) * $nBuckets) div $width")
        .as("bucket"), v.as("__v"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min(col("__v")).as("lo"), max(col("__v")).as("hi"))
  }

  /** DATA-QUALITY EXPECTATIONS report: evaluate every named row predicate
    * in ONE scan and return one row per rule —
    * (rule, n_rows, n_violations, pass) — the contract-check gate a
    * pipeline runs before promoting a table (the Deequ/Great-Expectations
    * shape, as a single aggregate).
    *
    * A row VIOLATES a rule when its predicate is false OR NULL —
    * three-valued logic would otherwise let a NULL-riddled column "pass"
    * every check silently; write `isNull`-tolerant predicates explicitly
    * where NULL is acceptable.
    *
    * Scale: all rules fold into one map-side-combined aggregate over a
    * single pass (no per-rule scans, no shuffle of data rows — only the
    * one-row aggregate moves), then pivot to per-rule rows driver-free via
    * explode. Adding a rule adds one long counter per task, not a pass.
    */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, pred), i) =>
        sum(when(coalesce(pred.cast("boolean"), lit(false)), 0L).otherwise(1L))
          .as(s"__v_$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perRule = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"),
        col("__n").as("n_rows"),
        coalesce(col(s"__v_$i"), lit(0L)).as("n_violations"),
        (coalesce(col(s"__v_$i"), lit(0L)) === 0L).cast("int").as("pass"))
    }
    one.select(explode(array(perRule: _*)).as("__r")).select("__r.*")
  }

  /** KEY-SKEW profile: the `k` heaviest keys with exact counts, integer
    * parts-per-million share, and rank — the "which keys will melt my
    * shuffle" report an operator run consults before picking a salting /
    * AQE-skew strategy (one hot key at 100 TB is a task that never
    * finishes; this tells you it exists BEFORE the job does).
    *
    * Scale: per-key counts are one map-side-combined hash aggregate; the
    * top-k is a BOUNDED [[graft.functions.TopNRows]] heap (rank order
    * cnt desc, then key asc — deterministic under ties), so the full key
    * universe never sorts; the grand total is a single-row aggregate the
    * k winners cross-join against (broadcast — the Search single-row
    * stats idiom). `ppm` is exact integer `cnt·10⁶ div total`: no float
    * share, identical on every engine.
    */
  def keySkew(df: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(k > 0, "k must be positive")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("__tot"),
      count(lit(1)).as("n_keys"))
    counts.agg(TopN.rows(
        struct(keyCols.map(col) :+ col("cnt"): _*),
        struct((-col("cnt")).as("neg_cnt") +: keyCols.map(col): _*),
        k, isMax = false).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("__t.*"), (col("__pos") + 1).cast("long").as("rank"))
      .crossJoin(broadcast(totals))
      .withColumn("ppm", expr("cnt * 1000000 div __tot"))
      .drop("__tot")
  }

  /** INCREMENTAL distinct-count profiling — the sketch-algebra shape: a
    * nightly job calls [[distinctSketch]] per ingest slice (day, source,
    * partition) and persists the binary sketches; [[mergeDistinctSketches]]
    * answers "distinct over ANY union of slices" by merging sketches —
    * never re-reading the data. HLL register merges are idempotent,
    * associative and commutative set unions, so the merged estimate
    * EQUALS the direct single-pass estimate over the union bit-for-bit
    * (spec-pinned) — re-sketching history every night is pure waste.
    *
    * `lgConfigK` fixes the register width; every sketch that will ever
    * merge must share it (the standard sketch-store contract — bake it
    * into the store's schema, not per-job config).
    */
  def distinctSketch(df: DataFrame, sliceCols: Seq[String], valueCol: String,
                     lgConfigK: Int = 12): DataFrame = {
    require(sliceCols.nonEmpty, "sliceCols must be non-empty")
    df.groupBy(sliceCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("sketch"))
  }

  /** Merge [[distinctSketch]] slices (optionally re-grouped by a coarser
    * key subset) into distinct-count estimates. Pass `groupCols = Nil`
    * for one global row.
    */
  def mergeDistinctSketches(sketches: DataFrame,
                            groupCols: Seq[String] = Nil): DataFrame = {
    val merged =
      if (groupCols.isEmpty)
        sketches.agg(hll_union_agg(col("sketch")).as("__m"))
      else sketches.groupBy(groupCols.map(col): _*)
        .agg(hll_union_agg(col("sketch")).as("__m"))
    merged.withColumn("n_distinct", hll_sketch_estimate(col("__m")))
      .drop("__m")
  }

  /** The count-min bucket of `item` for hash row `r`: first 8 hex chars
    * of md5("item:r") as a long, mod `width` — the repo's cross-engine
    * hash convention ([[Sampling]] docstrings), so a DuckDB/any-engine
    * mirror recomputes identical buckets from the same strings.
    * Computed by the native [[graft.functions.Md5Bucket]] expression
    * (bit-identical to the `conv(substring(md5(..)))` SQL chain, which
    * pays a fresh MessageDigest + hex encode + string parse per call —
    * this is the sketch-build hot path, depth×levels hashes per row).
    */
  private def cmsBucket(item: Column, r: Column, width: Int): Column =
    graft.functions.Md5Bucket.column(
      concat(item.cast("string"), lit(":"), r.cast("string")), width.toLong)

  /** COUNT-MIN SKETCH of an item column, as a TABLE: one row per
    * (slice…, hash row `r`, bucket `b`) with the summed hit count — at
    * most `depth`·`width` rows per slice NO MATTER how many distinct
    * items stream past (the frequency twin of [[distinctSketch]]'s HLL:
    * Misra–Gries keeps the top-k identities, CMS answers point queries
    * for ANY item, HLL counts the universe).
    *
    * Why a table and not an opaque binary blob: the sketch IS relational
    * state — merging is `GROUP BY … SUM(cnt)` ([[cmsMerge]]), point
    * queries are an equi-join ([[cmsEstimate]]), and any engine can
    * recompute it from the md5 convention, which is what the battery's
    * DuckDB oracle does. Aggregation state is bounded at depth·width
    * counters per slice and map-side combine keeps the shuffle the same
    * size, so the operator is one bounded-output exchange at any corpus
    * scale.
    *
    * Estimates are classic CMS: never BELOW the true count, above it by
    * at most ε·N with probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉
    * (Cormode–Muthukrishnan '05). NULL items are skipped.
    */
  def cmsSketch(df: DataFrame, itemCol: Column, depth: Int, width: Int,
                sliceCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && width >= 1, "cmsSketch: depth and width must be >= 1")
    val rows = (0 until depth).map { r =>
      struct(lit(r).as("r"), cmsBucket(itemCol, lit(r), width).as("b"))
    }
    df.filter(itemCol.isNotNull)
      .select(sliceCols.map(col) :+ explode(array(rows: _*)).as("__rb"): _*)
      .select(sliceCols.map(col) :+ col("__rb.r") :+ col("__rb.b"): _*)
      .groupBy((sliceCols :+ "r" :+ "b").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge [[cmsSketch]] tables built over disjoint slices (optionally
    * re-grouped to a coarser key subset; `groupCols = Nil` for one global
    * sketch): counters ADD, so the merge is exact sketch algebra — the
    * merged sketch equals the sketch of the concatenated data, bit for
    * bit. Same contract as [[mergeDistinctSketches]].
    */
  def cmsMerge(sketches: DataFrame, groupCols: Seq[String] = Nil): DataFrame =
    sketches.groupBy((groupCols :+ "r" :+ "b").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-query frequency estimates for `items` against a [[cmsSketch]]
    * table: per (slice…, item), the MIN over the `depth` hash rows of the
    * matched bucket counters (a missing bucket row is an untouched
    * counter = 0). Output: (slice…, item, est). The probe side is
    * items·depth rows — the join is sketch-sized, never data-sized.
    */
  def cmsEstimate(sketch: DataFrame, items: Seq[String], depth: Int,
                  width: Int, sliceCols: Seq[String] = Nil): DataFrame =
    cmsEstimateReleasable(sketch, items, depth, width, sliceCols)._1

  /** [[cmsEstimate]] plus a release handle for the sketch table the
    * sliced path caches. The sketch subtree feeds TWO consumers (the
    * slice-universe distinct and the counter join); left lazy, a
    * corpus-scanning sketch build runs twice per estimate call, so the
    * sliced path persists it until the result materializes. Unlike the
    * KMV set operations (≤ k rows, collected driver-local), a sliced CMS
    * table is `slices · depth · width` rows — sketch-sized but not
    * driver-bounded — so it stays a cached distributed table; cache (not
    * localCheckpoint) so `spark.catalog.clearCache()` and LRU eviction
    * also reclaim it if the handle is never called. Long-running callers
    * should call the handle once the estimates are materialized (the
    * [[graft.operators.Dedup.incrementalCdcChunksReleasable]]
    * discipline); the convenience overload above is for one-shot use.
    */
  def cmsEstimateReleasable(sketch: DataFrame, items: Seq[String], depth: Int,
                            width: Int, sliceCols: Seq[String] = Nil)
      : (DataFrame, () => Unit) = {
    require(items.nonEmpty, "cmsEstimate: no probe items")
    val spark = sketch.sparkSession
    import spark.implicits._
    val probe = items.toDF("item")
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("b", cmsBucket(col("item"), col("r"), width))
    val (joined, release) =
      if (sliceCols.isEmpty)
        (probe.join(sketch, Seq("r", "b"), "left"), () => ())
      else {
        val sk = sketch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val j = probe
          .crossJoin(sk.select(sliceCols.map(col): _*).distinct())
          .join(sk, sliceCols ++ Seq("r", "b"), "left")
        (j, () => { sk.unpersist(); () })
      }
    (joined.groupBy((sliceCols :+ "item").map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est")), release)
  }

  // --- Quantile sketch: dyadic CMS rank/quantile summary ------------------

  /** The dyadic node's CMS item string: `"l@prefix"` — level `l`'s node
    * covering values `[prefix·2^l, (prefix+1)·2^l)`. Hashed through the
    * same md5 convention as [[cmsBucket]] (`md5("l@prefix:r")`), so any
    * engine recomputes identical buckets.
    */
  private def qNodeItem(l: Column, prefix: Column): Column =
    concat(l.cast("string"), lit("@"), prefix.cast("string"))

  /** QUANTILE SKETCH of a non-negative integer metric column, as a TABLE —
    * the rank/quantile member of the sketch family (HLL counts the
    * universe, CMS answers point frequencies, Misra–Gries keeps top-k
    * identities; this answers `rank(x)` and `quantile(q)`). It is the
    * classic dyadic range-count decomposition over a CMS
    * (Cormode–Muthukrishnan '05 §4.2): one CMS per dyadic LEVEL
    * `l ∈ [0, levels)`, where value `v` contributes node `v >> l` at
    * level `l`; any rank query decomposes into ≤ `levels` node lookups.
    *
    * CHOSEN OVER KLL/GK deliberately: their compactions are sequential
    * (KLL randomized, GK order-dependent), so two engines — or two
    * partition orders — produce different summaries. Here the sketch is
    * a pure function of the VALUE MULTISET via public hash arithmetic:
    * deterministic under any partitioning, merge is exact `GROUP BY SUM`
    * algebra ([[quantileSketchMerge]]), and the DuckDB oracle recomputes
    * it bit-for-bit from the md5 convention — the [[cmsSketch]]
    * discipline, which a random-compaction sketch cannot satisfy.
    *
    * Bounded state: ≤ `levels·depth·width` counter rows per slice no
    * matter how many rows stream past; map-side combine bounds the
    * shuffle the same way. Rank overestimates are one-sided (CMS never
    * undercounts), at most `levels·ε·N` with width = ⌈e/ε⌉ per level.
    *
    * Domain contract: metric values must lie in `[0, 2^levels)` — an
    * out-of-range value fails LOUD (a silent clamp would corrupt every
    * rank above it). NULL metrics are skipped, matching [[cmsSketch]].
    */
  def quantileSketch(df: DataFrame, metricCol: Column, levels: Int,
                     depth: Int, width: Int,
                     sliceCols: Seq[String] = Nil): DataFrame = {
    require(levels >= 1 && levels <= 62, "quantileSketch: levels in [1, 62]")
    require(depth >= 1 && width >= 1, "quantileSketch: depth and width must be >= 1")
    val bound = 1L << levels
    val v = when(metricCol.cast("long") >= 0 && metricCol.cast("long") < bound,
        metricCol.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"quantileSketch: metric value out of domain [0, $bound): "),
        metricCol.cast("string"))).cast("long"))
    val nodes = for (l <- 0 until levels; r <- 0 until depth) yield
      struct(lit(l).as("l"), lit(r).as("r"),
        cmsBucket(qNodeItem(lit(l), shiftright(v, l)), lit(r), width).as("b"))
    df.filter(metricCol.isNotNull)
      .select(sliceCols.map(col) :+ explode(array(nodes: _*)).as("__n"): _*)
      .select(sliceCols.map(col) :+ col("__n.l") :+ col("__n.r") :+ col("__n.b"): _*)
      .groupBy((sliceCols :+ "l" :+ "r" :+ "b").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge [[quantileSketch]] tables built over disjoint slices
    * (optionally re-grouped coarser; `Nil` → one global sketch): counters
    * ADD, so the merged sketch equals the sketch of the concatenated
    * data bit for bit — the same exact algebra as [[cmsMerge]].
    */
  def quantileSketchMerge(sketches: DataFrame,
                          groupCols: Seq[String] = Nil): DataFrame =
    sketches.groupBy((groupCols :+ "l" :+ "r" :+ "b").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Rank estimates (`#values < x`, one-sided overestimate) for probe
    * values against a [[quantileSketch]]: `[0, x)` decomposes into the
    * LEFT SIBLINGS along x's root-to-leaf path — for every set bit `l`
    * of `x`, the level-`l` node `(x >> l) − 1` — and the estimate is the
    * sum of those ≤ `levels` CMS point lookups (min over `depth` hash
    * rows each; a missing bucket row is an untouched counter = 0). The
    * probe side is `|probes|·levels·depth` rows — sketch-sized, never
    * data-sized. Output: (slice…, value, est_rank).
    */
  def quantileRank(sketch: DataFrame, probes: Seq[Long], levels: Int,
                   depth: Int, width: Int,
                   sliceCols: Seq[String] = Nil): DataFrame = {
    require(probes.nonEmpty, "quantileRank: no probe values")
    // strictly below 2^levels: a probe of exactly 2^levels would need the
    // (unstored) level-`levels` root node and silently report rank 0
    require(probes.forall(p => p >= 0 && p < (1L << levels)),
      s"quantileRank: probes must lie in [0, 2^levels=${1L << levels})")
    val spark = sketch.sparkSession
    import spark.implicits._
    // (value, l, r, b) for every left sibling of every probe
    val probeNodes = probes.toDF("value")
      .withColumn("l", explode(sequence(lit(0), lit(levels - 1))))
      .filter(expr("shiftright(value, l)").bitwiseAND(1) === 1)
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("b", cmsBucket(
        qNodeItem(col("l"), expr("shiftright(value, l)") - 1),
        col("r"), width))
    val joined =
      if (sliceCols.isEmpty) probeNodes.join(sketch, Seq("l", "r", "b"), "left")
      else probeNodes
        .crossJoin(sketch.select(sliceCols.map(col): _*).distinct())
        .join(sketch, sliceCols ++ Seq("l", "r", "b"), "left")
    // per (slice, value, node level): CMS min over hash rows; then sum the
    // node estimates. A probe with NO set bits (x = 0) has rank 0 by
    // definition — reattach via the probe list so it is not silently lost.
    val nodeEst = joined
      .groupBy((sliceCols :+ "value" :+ "l").map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("__ne"))
    val summed = nodeEst.groupBy((sliceCols :+ "value").map(col): _*)
      .agg(sum(col("__ne")).as("est_rank"))
    val allProbes =
      if (sliceCols.isEmpty) probes.toDF("value")
      else probes.toDF("value")
        .crossJoin(sketch.select(sliceCols.map(col): _*).distinct())
    allProbes.join(summed, sliceCols :+ "value", "left")
      .select((sliceCols :+ "value").map(col) :+
        coalesce(col("est_rank"), lit(0L)).as("est_rank"): _*)
  }

  /** Quantile ESTIMATES for ppm-quantized fractions against a
    * [[quantileSketch]]: per slice, descend the dyadic tree from the
    * root — at each level compare the target rank against the running
    * rank plus the LEFT child's CMS estimate, go left or right — and the
    * level-0 prefix reached is the value estimate. Integer end-to-end
    * (`t = max(1, N·q_ppm div 10⁶)`, the ppm discipline), so the walk is
    * bit-reproducible and the DuckDB oracle mirrors it as `levels`
    * chained CTE steps.
    *
    * The sketch is BOUNDED state (≤ levels·depth·width rows per slice),
    * so it collects to the driver and walks in memory — the small-k
    * centroid-load precedent, never a data-sized collect. `N` per slice
    * is exact: level-0 row-0 counters partition the inserted values.
    * Output: (slice…, q_ppm, value, n). Empty sketch → empty output.
    */
  def quantileEstimate(sketch: DataFrame, qPpms: Seq[Long], levels: Int,
                       depth: Int, width: Int,
                       sliceCols: Seq[String] = Nil): DataFrame = {
    require(qPpms.nonEmpty, "quantileEstimate: no quantiles")
    require(qPpms.forall(q => q >= 1 && q <= 1000000),
      "quantileEstimate: q_ppm in [1, 1000000]")
    val spark = sketch.sparkSession
    val rows = sketch
      .select(sliceCols.map(col) ++ Seq(col("l").cast("int"),
        col("r").cast("int"), col("b").cast("long"),
        col("cnt").cast("long")): _*)
      .collect()
    val bySlice = rows.groupBy(r => sliceCols.indices.map(r.get).toSeq)
    val out = bySlice.toSeq.flatMap { case (sliceKey, rs) =>
      val cnts: Map[(Int, Int, Long), Long] = rs.map { r =>
        val base = sliceCols.length
        ((r.getInt(base), r.getInt(base + 1), r.getLong(base + 2)),
          r.getLong(base + 3))
      }.toMap
      def est(l: Int, p: Long): Long =
        (0 until depth).map { r =>
          cnts.getOrElse((l, r, QuantileSketchHash.bucket(s"$l@$p", r, width)), 0L)
        }.min
      val n = rs.filter { r =>
        r.getInt(sliceCols.length) == 0 && r.getInt(sliceCols.length + 1) == 0
      }.map(_.getLong(sliceCols.length + 3)).sum
      qPpms.map { q =>
        val t = math.max(1L, (n * q) / 1000000L)
        var p = 0L
        var racc = 0L
        var l = levels - 1
        while (l >= 0) {
          val leftEst = est(l, 2 * p)
          if (t <= racc + leftEst) p = 2 * p
          else { racc += leftEst; p = 2 * p + 1 }
          l -= 1
        }
        Row.fromSeq(sliceKey ++ Seq(q, p, n))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      sliceCols.map(c => sketch.schema(c)) ++ Seq(
        org.apache.spark.sql.types.StructField("q_ppm",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](out.asJava), schema)
  }

  /** CATEGORICAL DRIFT between two corpus slices — the snapshot-over-
    * snapshot monitor (language mix between two crawls, source mix
    * between two training blends): per category, both counts and both
    * shares, plus the absolute share delta. The headline scalar is
    * [[totalVariationPpm]].
    *
    * Shares quantize to EXACT integer ppm FIRST (`cnt·10⁶ div total`,
    * BIGINT floor-division — the [[graft.operators.Search.retrievalMetrics]]
    * cleared-denominator discipline), and the delta is a difference of
    * those quantized shares. This is a deliberate definition, not an
    * approximation trade: it keeps every intermediate in BIGINT (safe to
    * ~9.2·10¹² rows per slice — `cnt·10⁶ < 2⁶³`; no decimal-division
    * rounding rules to reconcile across engines), costs at most 1 ppm
    * per category vs the rational value, and makes the whole table
    * bit-reproducible on any engine — a drift dashboard diffed across
    * reruns must never flicker in the last digit.
    *
    * Categories present in only one slice get share 0 on the missing
    * side (full outer join); a NULL category is a real category (both
    * engines' GROUP BY keep it). Plan shape: two count aggregates
    * (map-side combined, output = |categories|), a categories-sized
    * full-outer join, and two 1-row total broadcasts — nothing here
    * scales with rows beyond the two scans.
    */
  /** `groupCols` (columns present in BOTH slices) turn the monitor into
    * its per-slice twin — drift of the source mix WITHIN each language,
    * per-tenant category drift, the IVF refit signal per index — one
    * row per (slice…, category), shares normalized within the slice.
    * `Nil` (default) is the global monitor. Slice keys are null-safe
    * like the category.
    */
  def categoricalDrift(a: DataFrame, b: DataFrame, catCol: Column,
                       groupCols: Seq[String] = Nil): DataFrame = {
    val g = groupCols.map(col)
    val ca = a.groupBy(g :+ catCol.as("category"): _*)
      .agg(count(lit(1)).as("cnt_a"))
    val cb = b.groupBy(g :+ catCol.as("category"): _*)
      .agg(count(lit(1)).as("cnt_b"))
    // per-slice totals; groupBy() over Nil is the single global row
    val ta = ca.groupBy(g: _*).agg(sum(col("cnt_a")).as("__ta"))
    val tb = cb.groupBy(g: _*).agg(sum(col("cnt_b")).as("__tb"))
    val bKeys = groupCols :+ "category"
    val cbR = bKeys.foldLeft(cb)((d, c) => d.withColumnRenamed(c, s"__b_$c"))
    val joinCond = bKeys.map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _)
    val merged = ca.join(cbR, joinCond, "full_outer")
      .select(groupCols.map(c => coalesce(col(c), col(s"__b_$c")).as(c)) ++
        Seq(coalesce(col("category"), col("__b_category")).as("category"),
          coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
          coalesce(col("cnt_b"), lit(0L)).as("cnt_b")): _*)
    def joinTotal(d: DataFrame, tot: DataFrame): DataFrame =
      if (groupCols.isEmpty) d.crossJoin(tot)
      else {
        val totR = groupCols.foldLeft(tot)((x, c) =>
          x.withColumnRenamed(c, s"__t_$c"))
        d.join(totR,
            groupCols.map(c => col(c) <=> col(s"__t_$c")).reduce(_ && _),
            "left")
          .drop(groupCols.map(c => s"__t_$c"): _*)
      }
    joinTotal(joinTotal(merged, ta), tb)
      .withColumn("share_a_ppm",
        when(col("__ta").isNull, lit(0L))
          .otherwise(expr("cnt_a * 1000000 div __ta")))
      .withColumn("share_b_ppm",
        when(col("__tb").isNull, lit(0L))
          .otherwise(expr("cnt_b * 1000000 div __tb")))
      .withColumn("diff_ppm", abs(col("share_a_ppm") - col("share_b_ppm")))
      .drop("__ta", "__tb")
  }

  /** The drift headline: total-variation distance over the ppm-quantized
    * shares, `Σ|share_a − share_b| div 2` — 0 = identical mixes,
    * ~1 000 000 = disjoint supports. BEWARE the floor-quantization
    * deficit: each side's floored ppm shares can sum up to
    * |categories| ppm below 10⁶ (three disjoint thirds per side give
    * 999 999), so disjoint supports report 10⁶ − O(|categories|), not
    * exactly 10⁶ — set alert thresholds strictly below 10⁶ (a
    * `>= 1_000_000` alert can never fire). One row; alert when it
    * crosses the rebalance/re-fit threshold (e.g. the IVF re-fit
    * decision that [[graft.streaming.AnnStreams.ivfOccupancy]] feeds).
    */
  def totalVariationPpm(a: DataFrame, b: DataFrame, catCol: Column,
                        groupCols: Seq[String] = Nil): DataFrame = {
    val drift = categoricalDrift(a, b, catCol, groupCols)
    if (groupCols.isEmpty) drift.agg(expr("sum(diff_ppm) div 2").as("tvd_ppm"))
    else drift.groupBy(groupCols.map(col): _*)
      .agg(expr("sum(diff_ppm) div 2").as("tvd_ppm"))
  }

  /** NUMERIC drift between two corpus slices — [[categoricalDrift]] for
    * an integer-valued metric column (document length, token count,
    * quality score in fixed-point): slice `a` is the REFERENCE whose
    * exact equi-depth k-quantile cut points define the buckets, both
    * slices bucket against those same cuts, and the per-bucket table
    * drifts. Reference-side cuts are the PSI convention: "how has the
    * length distribution moved relative to LAST snapshot's quantiles" —
    * and the only choice that keeps a dashboard's buckets stable while
    * the new slice shifts.
    *
    * Cuts are exact, not sketched: distinct-value counts → the two-level
    * distributed prefix sum ([[graft.operators.Chunking.withRunningTotal]]
    * — no single task ever sorts the full input) → each distinct value's
    * equi-depth bucket `⌊k·cumBefore/n⌋` (BIGINT div) → the k−1 upper
    * bucket bounds. The ≤ k−1 cut points collect to the driver (the
    * small-k centroid-load precedent) and bucket both sides as a
    * codegen'd `size(filter(cuts, c < x))` — count of cuts strictly
    * below x, identical arithmetic in the DuckDB mirror's
    * `len(list_filter(...))`. Duplicate-heavy references can yield
    * fewer than k distinct cuts; both sides compress identically, so
    * the comparison stays exact. NULL metric values form their own
    * bucket (NULL category, both engines' GROUP BY).
    *
    * Output: one row per bucket `(bucket, cnt_a, cnt_b, share_a_ppm,
    * share_b_ppm, diff_ppm)`; `Σ diff div 2` is the numeric TVD.
    */
  def numericDrift(a: DataFrame, b: DataFrame, value: Column,
                   k: Int): DataFrame = {
    require(k >= 2, "numericDrift: need at least 2 buckets")
    val av = a.select(value.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val counts = av.groupBy("__v").agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__n"))
    // __v div 1024 is a monotone coarsening of the value order — the
    // prefix sum's bucketing contract; quantization only affects balance
    val cum = Chunking.withRunningTotal(counts,
      expr("__v div 1024"), Seq(col("__v")), "__c")
    val cuts: Seq[Long] = cum.crossJoin(total)
      .withColumn("__bkt", least(expr(s"__before * $k div __n"), lit(k - 1L)))
      .filter(col("__bkt") < (k - 1))
      .groupBy("__bkt").agg(max(col("__v")).as("__cut"))
      .select("__cut").collect().map(_.getLong(0)).sorted.toSeq
    // count of cuts strictly below x as a when-chain SUM, not
    // size(filter(...)): HOFs are CodegenFallback (the SCALE_SWEEP_r13
    // lesson) and k−1 codegen'd comparisons per row cost what a CASE
    // chain costs
    def bucketOf(c: Column): Column = {
      val x = c.cast("long")
      val below =
        if (cuts.isEmpty) lit(0L)
        else cuts.map(cut => when(lit(cut) < x, lit(1L)).otherwise(lit(0L)))
          .reduce(_ + _)
      when(x.isNull, lit(null).cast("long")).otherwise(below)
    }
    categoricalDrift(
        a.select(bucketOf(value).as("__bucket")),
        b.select(bucketOf(value).as("__bucket")),
        col("__bucket"))
      .withColumnRenamed("category", "bucket")
  }

  /** EMBEDDING-SPACE drift monitor — the drift family's third member
    * (categorical shares, numeric quantile buckets, now centroid shift):
    * per slice, how far corpus B's embedding centroid moved from corpus
    * A's — "did the upgraded encoder / new crawl shift my vector space
    * per source" before an ANN index silently degrades.
    *
    * All arithmetic is EXACT INTEGER so both engines agree bit-for-bit:
    * vectors quantize at 1e-4, per-dim sums accumulate in BIGINT, the
    * centroid is `sum div n` (truncating division — Spark `div` and
    * DuckDB `//` agree on negatives), and the drift metrics are computed
    * on the quantized centroids: `cos2_ppm` = ⌊cos²·10⁶⌋ between the two
    * centroids (DECIMAL(38,0) intermediates, NULL when either centroid
    * is the zero vector), `cos_sign` = the cosine's sign (cos² loses it),
    * `dist2` = squared L2 distance in quantized units. Slices present in
    * only one corpus survive the full-outer join with NULL metrics —
    * appearing/disappearing sources ARE drift.
    *
    * Dimensionality contract: vectors within a slice must share one
    * length — ragged input FAILS LOUD (the mean would divide short
    * dims' sums by the wrong n). A dim-count mismatch BETWEEN the two
    * corpora yields NULL metrics for that slice (zip_with null-pads the
    * shorter centroid and the integer folds propagate the NULL) — a
    * changed encoder width reads as a visible NULL row, never as a
    * silently-wrong number.
    *
    * Plan shape at 100 TB: one scan per corpus; posexplode fans each row
    * to `dims` (slice, pos, q) triples that hash-aggregate with map-side
    * combine, so the exchange carries dims·slices rows per side; the
    * centroid join is slice-count-sized. No corpus ever joins a corpus.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: Column,
                     sliceCols: Seq[String] = Nil): DataFrame =
    embeddingDriftFromRef(
      embeddingRefCentroids(a, vecCol, sliceCols), b, vecCol, sliceCols)

  /** The REFERENCE side of [[embeddingDrift]], pre-aggregated: per slice,
    * `(…slices, n_a, __ma)` — the quantized integer centroid and vector
    * count. Slice-count-sized, a pure function of the reference corpus;
    * a monitor comparing many batches against one constant reference
    * builds this ONCE (one corpus scan) and feeds it to
    * [[embeddingDriftFromRef]] per batch — the constant-side memo
    * ([[graft.streaming.EmbeddingStreams.driftMonitorStream]] persists
    * it under the monitor's own state path).
    */
  def embeddingRefCentroids(a: DataFrame, vecCol: Column,
                            sliceCols: Seq[String] = Nil): DataFrame =
    driftCentroids(a, vecCol, sliceCols, "n_a")
      .withColumnRenamed("__mean", "__ma")

  /** [[embeddingDrift]] against a PREBUILT reference centroid table
    * ([[embeddingRefCentroids]] layout). Per call: one scan of `b`, a
    * slice-count-sized join — the reference corpus is never rescanned.
    */
  def embeddingDriftFromRef(refCentroids: DataFrame, b: DataFrame,
                            vecCol: Column,
                            sliceCols: Seq[String] = Nil): DataFrame = {
    val ca = refCentroids
    val cb = driftCentroids(b, vecCol, sliceCols, "n_b")
      .withColumnRenamed("__mean", "__mb")
    val joined =
      if (sliceCols.isEmpty) ca.crossJoin(cb)
      else {
        val cbR = sliceCols.foldLeft(cb)((d, c) =>
          d.withColumnRenamed(c, s"__r_$c"))
        val cond = sliceCols.map(c => ca(c) <=> cbR(s"__r_$c")).reduce(_ && _)
        ca.join(cbR, cond, "full_outer")
          .select(sliceCols.map(c =>
            coalesce(ca(c), cbR(s"__r_$c")).as(c)) ++
            Seq(col("n_a"), col("__ma"), col("n_b"), col("__mb")): _*)
      }
    joined
      .withColumn("__dot", expr(
        "aggregate(zip_with(__ma, __mb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("__na2", expr(
        "aggregate(__ma, 0L, (acc, x) -> acc + x * x)"))
      .withColumn("__nb2", expr(
        "aggregate(__mb, 0L, (acc, x) -> acc + x * x)"))
      .withColumn("dist2", expr(
        "aggregate(zip_with(__ma, __mb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("cos2_ppm", expr(
        """CASE WHEN __na2 = 0 OR __nb2 = 0 THEN NULL
           ELSE (CAST(__dot AS DECIMAL(38,0)) * __dot * 1000000)
                div (CAST(__na2 AS DECIMAL(38,0)) * __nb2) END"""))
      .withColumn("cos_sign", signum(col("__dot")).cast("int"))
      .select(sliceCols.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("cos2_ppm"), col("cos_sign"), col("dist2")): _*)
  }

  private def driftCentroids(df0: DataFrame, vecCol: Column,
                             sliceCols: Seq[String],
                             nName: String): DataFrame = {
    def centroids(df: DataFrame, nName: String): DataFrame = {
      val q = df.filter(vecCol.isNotNull)
        .select(sliceCols.map(col) :+ posexplode(
          transform(vecCol, x => round(x.cast("double") * 10000).cast("long")))
          .as(Seq("__pos", "__q")): _*)
      val perDim = q.groupBy((sliceCols.map(col) :+ col("__pos")): _*)
        .agg(sum(col("__q")).as("__s"), count(lit(1)).as("__n"))
      val grouped =
        if (sliceCols.isEmpty) perDim.agg(
          sort_array(collect_list(struct(col("__pos"), col("__s")))).as("__sv"),
          max(col("__n")).as(nName), min(col("__n")).as("__nmin"))
        else perDim.groupBy(sliceCols.map(col): _*).agg(
          sort_array(collect_list(struct(col("__pos"), col("__s")))).as("__sv"),
          max(col("__n")).as(nName), min(col("__n")).as("__nmin"))
      // RAGGED-INPUT GUARD: the mean divides every dimension's sum by the
      // slice's vector COUNT, which is only the per-dim row count when
      // every vector in the slice has the same length. Mixed lengths
      // would silently divide short dims' sums by the wrong n — fail
      // loud instead (free: min/max of a column already aggregated).
      grouped.withColumn(nName,
          when(col("__nmin") === col(nName), col(nName))
            .otherwise(raise_error(concat(
              lit("embeddingDrift: ragged vector lengths within a slice " +
                "(per-dim counts "), col("__nmin"), lit(".."), col(nName),
              lit(") — fix the input; centroids over mixed-length " +
                "vectors are undefined")).cast("string")).cast("long")))
        .drop("__nmin")
        .withColumn("__sum", expr("transform(__sv, t -> t.__s)"))
        .withColumn("__mean", expr(s"transform(__sum, s -> s div $nName)"))
        .drop("__sv", "__sum")
    }
    centroids(df0, nName)
  }

  // --- KMV (k-minimum-values) sketch: distinct + SET-OVERLAP estimation ---

  /** The KMV hash: first 15 hex chars of md5(key) as a long in [0, 2⁶⁰)
    * — computed by the native [[graft.functions.Md5Hash60]] expression;
    * the DuckDB mirror is `CAST(('0x' || substring(md5(key), 1, 15)) AS
    * BIGINT)`. 60 bits, not the sampler contract's 32: a distinct sketch
    * over ~10¹¹ keys would collide visibly at 2³².
    */
  private def kmvHash(key: Column): Column =
    graft.functions.Md5Hash60.column(key.cast("string"))

  /** KMV (k-minimum-values / bottom-k) SKETCH of a key column, as a
    * TABLE: per slice, the `k` smallest distinct 60-bit hashes of the
    * keys, one row per (slice…, h) — the SET-OPERATIONS member of the
    * sketch family (HLL counts one universe, CMS answers frequencies,
    * Misra–Gries keeps identities, the dyadic CMS answers ranks; KMV is
    * the one whose sketches COMPOSE across corpora: union, intersection,
    * Jaccard — Beyer et al., SIGMOD'07). "How much does crawl B overlap
    * crawl A" from two k-row tables, no cross-corpus join.
    *
    * Deterministic: a pure function of the key SET via public md5
    * arithmetic — any engine recomputes it (`SELECT DISTINCT h ORDER BY
    * h LIMIT k`), which is what the battery's DuckDB oracle does.
    *
    * Plan shape at 100 TB: one scan; [[graft.functions.BottomKDistinct]]
    * dedups inside a bounded ≤ k buffer (ObjectHashAggregate, map-side
    * combine), so the exchange carries ≤ k·partitions longs per slice —
    * never the distinct-key universe a `distinct()` would shuffle.
    * NULL keys are skipped, matching [[cmsSketch]].
    */
  def kmvSketch(df: DataFrame, keyCol: Column, k: Int,
                sliceCols: Seq[String] = Nil): DataFrame = {
    require(k >= 2 && k <= 8192, "kmvSketch: k in [2, 8192]")
    val hashed = df.filter(keyCol.isNotNull)
      .select(sliceCols.map(col) :+ kmvHash(keyCol).as("__h"): _*)
    val agged =
      if (sliceCols.isEmpty)
        hashed.agg(graft.functions.BottomK.distinct(col("__h"), k).as("__hs"))
      else hashed.groupBy(sliceCols.map(col): _*)
        .agg(graft.functions.BottomK.distinct(col("__h"), k).as("__hs"))
    agged.select(sliceCols.map(col) :+ explode(col("__hs")).as("h"): _*)
  }

  /** Merge [[kmvSketch]] tables (optionally re-grouped to a coarser key
    * subset; `Nil` → one global sketch): the bottom-k of a union of
    * bottom-k sets is the bottom-k of the union of the underlying sets,
    * so the merge is one more [[graft.functions.BottomK]] pass over
    * sketch rows — exact sketch algebra, duplicate-tolerant by
    * construction (re-inserting a hash is a no-op), which is what makes
    * per-batch sketch deltas safe to compact without markers.
    */
  def kmvMerge(sketches: DataFrame, k: Int,
               groupCols: Seq[String] = Nil): DataFrame = {
    val agged =
      if (groupCols.isEmpty)
        sketches.agg(graft.functions.BottomK.distinct(col("h"), k).as("__hs"))
      else sketches.groupBy(groupCols.map(col): _*)
        .agg(graft.functions.BottomK.distinct(col("h"), k).as("__hs"))
    agged.select(groupCols.map(col) :+ explode(col("__hs")).as("h"): _*)
  }

  /** The KMV estimate arithmetic, shared by [[kmvDistinct]] and
    * [[kmvOverlap]]: with fewer than k hashes the sketch IS the distinct
    * set (exact count); at k, the classic KMV estimator
    * `⌊(k−1)·2⁶⁰ / h_k⌋`. The division runs in DOUBLE on both engines BY
    * CONTRACT: (k−1)·2⁶⁰ is exactly representable (k ≤ 2¹³), the operand
    * casts, the exactly-rounded IEEE division, and the floor are
    * bit-identical on the JVM and DuckDB — the z-score precedent. No
    * overflow: k distinct values in [0, 2⁶⁰) force h_k ≥ k−1, so the
    * quotient is ≤ 2⁶⁰.
    */
  private def kmvEstimate(k: Int, cnt: Column, kth: Column): Column =
    when(cnt < k, cnt).otherwise(
      // (k-1)·2⁶⁰ as a DOUBLE product — a Long shift would overflow at
      // k > 8 (1023·2⁶⁰ > 2⁶³); the double is exact (k ≤ 2¹³ mantissa)
      floor(lit((k - 1).toDouble * math.pow(2, 60)) / kth.cast("double"))
        .cast("long"))

  /** Distinct-count estimates from a [[kmvSketch]] table: per slice,
    * (n_kept, est_distinct) — exact when the slice kept fewer than k
    * hashes, the KMV estimator at k (relative error ≈ 1/√(k−2); k = 1024
    * ≈ 3%). Sketch-sized work only.
    */
  def kmvDistinct(sketch: DataFrame, k: Int,
                  sliceCols: Seq[String] = Nil): DataFrame = {
    val agged =
      if (sliceCols.isEmpty)
        sketch.agg(count(lit(1)).as("n_kept"), max(col("h")).as("__kth"))
      else sketch.groupBy(sliceCols.map(col): _*)
        .agg(count(lit(1)).as("n_kept"), max(col("h")).as("__kth"))
    agged.select(sliceCols.map(col) ++ Seq(col("n_kept"),
      kmvEstimate(k, col("n_kept"), col("__kth")).as("est_distinct")): _*)
  }

  /** Collect a sketch-sized table (bounded by contract at `maxRows`,
    * checked LOUDLY — a silently truncated sketch would skew every
    * estimate) into a driver-local relation. The KMV set operations
    * below consume each sketch in two subtrees (union + membership
    * join); re-planting the ≤ k-row result as local data runs the
    * possibly-corpus-scanning sketch build exactly once WITHOUT leaving
    * anything persisted behind — the leak-free replacement for the
    * per-call localCheckpoint these functions used through round 15
    * (each call left RDD blocks for the ContextCleaner; a session
    * calling the graft_overlap/graft_difference TVFs per query
    * accumulated them for the JVM's life).
    */
  private def boundedRows(df: DataFrame, maxRows: Int,
                          what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$what: more than $maxRows rows — not a bottom-$maxRows sketch table")
    rows
  }

  /** Collect one sketch side as (hash → max weight) driver-side data —
    * the set operations' input contract is "a bottom-k table" and the
    * collect is LOUDLY bounded at k+1 rows, so this is sketch algebra on
    * kilobytes, not a driver-side corpus walk. The (possibly
    * corpus-scanning) sketch subtree runs exactly once and nothing stays
    * persisted after the call — the leak-free replacement for the
    * per-call localCheckpoint these functions used through round 15.
    * `w` is `max` per hash with NULL ignored (None only when every
    * duplicate's weight is NULL) — the [[kmvSetWeights]] convention.
    */
  private def localSketch(df: DataFrame, k: Int, what: String,
                          weighted: Boolean): Map[Long, Option[Long]] =
    boundedRows(df, k, what).toSeq
      .map(r => (r.getLong(0),
        if (weighted && !r.isNullAt(1)) Some(r.getLong(1)) else None))
      .groupBy(_._1).view.mapValues { vs =>
        val ws = vs.flatMap(_._2)
        if (ws.isEmpty) None else Some(ws.max)
      }.toMap

  /** The flagged combined bottom-k, computed driver-side: for each hash
    * of the bottom-`k` of A∪B (ascending), membership and max-weight per
    * side. Through round 16 this table was built as a distributed plan
    * (union → BottomK agg → two membership joins) — ~6 AQE stage jobs
    * and hundreds of scheduled tasks for kilobyte inputs, which priced
    * q_kmv_diff at 2.5× its r15 cost. The fold below is the same
    * algebra on the already-collected sketches; the estimate arithmetic
    * downstream stays in Spark expressions over a one-row local
    * relation, so every published value is produced by the exact same
    * Column code as before.
    */
  private def flaggedUnion(a: Map[Long, Option[Long]],
                           b: Map[Long, Option[Long]], k: Int)
      : Seq[(Long, Boolean, Option[Long], Boolean, Option[Long])] =
    (a.keySet ++ b.keySet).toSeq.sorted.take(k).map { h =>
      (h, a.contains(h), a.getOrElse(h, None),
       b.contains(h), b.getOrElse(h, None))
    }

  /** Plant driver-computed aggregate stats as a ONE-ROW local relation
    * (nullable BIGINTs — `None` encodes what a Spark `sum`/`max` over
    * zero rows returns) so the estimator projections run unchanged.
    */
  private def statsRow(spark: org.apache.spark.sql.SparkSession,
                       fields: Seq[(String, Option[Long])]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(fields.map { case (n, _) =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = true)
    })
    val row = org.apache.spark.sql.Row(
      fields.map(_._2.map(Long.box).orNull): _*)
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
  }

  /** SET-OVERLAP estimates between two corpora from their [[kmvSketch]]
    * tables (both built with the same `k` and key convention): ONE row —
    * `union_k` (hashes in the combined bottom-k), `matches` (of those,
    * present in both sketches), `jaccard_ppm = matches·10⁶ div union_k`,
    * `est_union` (KMV estimator over the combined sketch), and
    * `est_intersection = ⌊est_union · matches / union_k⌋` carried out in
    * exact BIGINT arithmetic (`(u div c)·m + ((u mod c)·m) div c` — no
    * 128-bit intermediate, no double). The Beyer'07 K-th Minimum Value
    * set-operation estimators, relational.
    *
    * Every join here is sketch×sketch (≤ k rows a side) — estimating
    * cross-crawl overlap at 100 TB costs two corpus scans (the sketch
    * builds, each reusable for every future pairing) and then
    * kilobyte-sized joins.
    */
  def kmvOverlap(sketchA: DataFrame, sketchB: DataFrame, k: Int): DataFrame = {
    // each sketch feeds the union AND the membership flags; left lazy the
    // (possibly corpus-scanning) sketch subtree would run twice per side.
    // A ≤ k-row (k ≤ 8192) table is small enough to COLLECT: the corpus
    // scan runs exactly once, nothing stays persisted after the call
    // (localCheckpoint here leaked one RDD block pair per call — fatal
    // for the graft_overlap TVF, which SQL users invoke repeatedly in
    // one session), and the set algebra folds driver-side
    // ([[flaggedUnion]]) instead of spending exchanges on kilobytes.
    val a = localSketch(sketchA.select(col("h")), k, "kmvOverlap(sketchA)",
      weighted = false)
    val b = localSketch(sketchB.select(col("h")), k, "kmvOverlap(sketchB)",
      weighted = false)
    val u = flaggedUnion(a, b, k)
    val matches = u.count(r => r._2 && r._4).toLong
    statsRow(sketchA.sparkSession, Seq(
        "union_k" -> Some(u.length.toLong),
        "matches" -> (if (u.isEmpty) None else Some(matches)),
        "__kth" -> u.lastOption.map(_._1)))
      .select(
        col("union_k"), col("matches"),
        expr("matches * 1000000 DIV union_k").as("jaccard_ppm"),
        kmvEstimate(k, col("union_k"), col("__kth")).as("est_union"))
      .withColumn("est_intersection",
        expr("est_union DIV union_k") * col("matches") +
          expr("(est_union % union_k) * matches DIV union_k"))
  }

  /** SET-DIFFERENCE estimates between two corpora from their [[kmvSketch]]
    * tables — the directional complement of [[kmvOverlap]] ("how much of
    * crawl A is NOT in crawl B", the novelty question between two
    * already-sketched corpora): ONE row with `union_k`, `matches`,
    * `only_a` / `only_b` (combined-bottom-k hashes present in exactly one
    * sketch), `est_union`, and the Beyer'07 difference estimates
    * `est_a_minus_b = ⌊est_union · only_a / union_k⌋` (and the b∖a twin)
    * in the same exact BIGINT split arithmetic as the intersection
    * estimator — `(u div c)·x + ((u mod c)·x) div c`, no 128-bit
    * intermediate, no double. Identity by construction:
    * `est_a_minus_b + est_b_minus_a + est_intersection ≤ est_union` with
    * slack < 3 from the three floors.
    *
    * Same plan shape as [[kmvOverlap]]: sketch×sketch joins only — the
    * corpus cost is the two reusable sketch builds.
    */
  def kmvDifference(sketchA: DataFrame, sketchB: DataFrame, k: Int): DataFrame = {
    // driver-local sketch algebra, not localCheckpoint: see
    // [[kmvOverlap]] — zero persisted blocks per call is what keeps the
    // graft_difference TVF callable in a loop without accumulating cache
    val a = localSketch(sketchA.select(col("h")), k,
      "kmvDifference(sketchA)", weighted = false)
    val b = localSketch(sketchB.select(col("h")), k,
      "kmvDifference(sketchB)", weighted = false)
    val u = flaggedUnion(a, b, k)
    def cnt(f: ((Long, Boolean, Option[Long], Boolean, Option[Long])) => Boolean) =
      if (u.isEmpty) None else Some(u.count(f).toLong)
    statsRow(sketchA.sparkSession, Seq(
        "union_k" -> Some(u.length.toLong),
        "matches" -> cnt(r => r._2 && r._4),
        "only_a" -> cnt(r => r._2 && !r._4),
        "only_b" -> cnt(r => r._4 && !r._2),
        "__kth" -> u.lastOption.map(_._1)))
      .select(
        col("union_k"), col("matches"), col("only_a"), col("only_b"),
        kmvEstimate(k, col("union_k"), col("__kth")).as("est_union"))
      .withColumn("est_a_minus_b",
        expr("est_union DIV union_k") * col("only_a") +
          expr("(est_union % union_k) * only_a DIV union_k"))
      .withColumn("est_b_minus_a",
        expr("est_union DIV union_k") * col("only_b") +
          expr("(est_union % union_k) * only_b DIV union_k"))
  }

  /** WEIGHTED KMV sketch: the k smallest distinct 60-bit key hashes per
    * slice, each carrying the key's weight — one row per (slice…, h, w).
    * The hash SET is identical to [[kmvSketch]]'s (membership never looks
    * at the weight), so a weighted sketch merges with unweighted ones and
    * answers every [[kmvDistinct]]/[[kmvOverlap]] question; the weight
    * column adds the SUM dimension: the kept hashes are a uniform sample
    * of the distinct-key universe, so `est_total_w = est_distinct ·
    * sum_w / n_kept` ([[kmvWeightedSum]]) estimates the total weight over
    * DISTINCT keys — distinct bytes in a crawl, distinct-URL token mass —
    * from one bounded-buffer scan.
    *
    * Weight contract: a BIGINT function of the KEY (duplicate rows of one
    * key re-state its weight). If rows disagree, the MAX per hash is kept
    * — the one associative duplicate-tolerant choice that stays a pure
    * function of the input set (first-seen would depend on partitioning);
    * NULL weights read as 0. The DuckDB mirror is `SELECT h, max(w) GROUP
    * BY h ORDER BY h LIMIT k`.
    */
  def kmvSketchWeighted(df: DataFrame, keyCol: Column, weightCol: Column,
                        k: Int, sliceCols: Seq[String] = Nil): DataFrame = {
    require(k >= 2 && k <= 8192, "kmvSketchWeighted: k in [2, 8192]")
    val hashed = df.filter(keyCol.isNotNull)
      .select(sliceCols.map(col) ++ Seq(kmvHash(keyCol).as("__h"),
        weightCol.cast("long").as("__w")): _*)
    val agged =
      if (sliceCols.isEmpty)
        hashed.agg(graft.functions.BottomK
          .weighted(col("__h"), col("__w"), k).as("__hs"))
      else hashed.groupBy(sliceCols.map(col): _*)
        .agg(graft.functions.BottomK
          .weighted(col("__h"), col("__w"), k).as("__hs"))
    agged.select(sliceCols.map(col) :+ explode(col("__hs")).as("__p"): _*)
      .select(sliceCols.map(col) ++ Seq(col("__p.h").as("h"),
        col("__p.w").as("w")): _*)
  }

  /** Distinct-universe WEIGHT estimates from a [[kmvSketchWeighted]]
    * table: per slice, `(n_kept, sum_w, est_distinct, est_total_w)`.
    * One formula covers both regimes: `est_total_w = est_distinct · sum_w
    * DIV n_kept` — below k, `est_distinct = n_kept` and the quotient IS
    * the exact sampled sum; at k it is the Horvitz–Thompson-style scale-up
    * (each kept key stands for `est_distinct / k` keys). The product runs
    * in DECIMAL(38,0) so `2⁶⁰-scale × 2⁶³-scale` cannot wrap (≈10³⁷ <
    * 10³⁸), then one integral DIV back to BIGINT — exact on both engines
    * (DuckDB's HUGEINT mirror: `est * sum_w // n`).
    */
  def kmvWeightedSum(wsketch: DataFrame, k: Int,
                     sliceCols: Seq[String] = Nil): DataFrame = {
    val agged =
      if (sliceCols.isEmpty)
        wsketch.agg(count(lit(1)).as("n_kept"), sum(col("w")).as("sum_w"),
          max(col("h")).as("__kth"))
      else wsketch.groupBy(sliceCols.map(col): _*)
        .agg(count(lit(1)).as("n_kept"), sum(col("w")).as("sum_w"),
          max(col("h")).as("__kth"))
    agged.select(sliceCols.map(col) ++ Seq(col("n_kept"), col("sum_w"),
        kmvEstimate(k, col("n_kept"), col("__kth")).as("est_distinct")): _*)
      .withColumn("est_total_w",
        expr("CAST(est_distinct AS DECIMAL(38,0)) * sum_w DIV n_kept"))
  }

  /** WEIGHTED set operations between two corpora from their
    * [[kmvSketchWeighted]] tables — the composition that makes the
    * weighted sketch a full set-algebra citizen: ONE row with the
    * [[kmvDifference]] membership counts PLUS the weight mass of each
    * region (`w_matched` / `w_only_a` / `w_only_b` over the combined
    * bottom-k, max per hash if the sketches ever disagree) and their
    * Horvitz–Thompson scale-ups — "how many BYTES of crawl A are not in
    * crawl B", not just how many documents. The combined bottom-k is a
    * uniform sample of A∪B, so
    * `est_w_region = est_union · w_region DIV union_k` (DECIMAL(38,0)
    * product, the [[kmvWeightedSum]] overflow contract); below k the
    * sample IS the union and every estimate is exact.
    *
    * Same plan shape as [[kmvOverlap]]: sketch×sketch joins only.
    */
  def kmvSetWeights(wsketchA: DataFrame, wsketchB: DataFrame,
                    k: Int): DataFrame = {
    // driver-local sketch algebra, not localCheckpoint (see [[kmvOverlap]])
    val a = localSketch(wsketchA.select(col("h"), col("w")), k,
      "kmvSetWeights(wsketchA)", weighted = true)
    val b = localSketch(wsketchB.select(col("h"), col("w")), k,
      "kmvSetWeights(wsketchB)", weighted = true)
    val u = flaggedUnion(a, b, k)
    def cnt(f: ((Long, Boolean, Option[Long], Boolean, Option[Long])) => Boolean) =
      if (u.isEmpty) None else Some(u.count(f).toLong)
    // __w = greatest(coalesce(wa, 0), coalesce(wb, 0)), the max-per-hash
    // convention; region sums in plain Long addition (the same wrap
    // semantics as a non-ANSI Spark sum)
    def wsum(f: ((Long, Boolean, Option[Long], Boolean, Option[Long])) => Boolean) =
      if (u.isEmpty) None
      else Some(u.filter(f)
        .map(r => math.max(r._3.getOrElse(0L), r._5.getOrElse(0L))).sum)
    statsRow(wsketchA.sparkSession, Seq(
        "union_k" -> Some(u.length.toLong),
        "matches" -> cnt(r => r._2 && r._4),
        "only_a" -> cnt(r => r._2 && !r._4),
        "only_b" -> cnt(r => r._4 && !r._2),
        "w_matched" -> wsum(r => r._2 && r._4),
        "w_only_a" -> wsum(r => r._2 && !r._4),
        "w_only_b" -> wsum(r => r._4 && !r._2),
        "__kth" -> u.lastOption.map(_._1)))
      .select(col("union_k"), col("matches"), col("only_a"), col("only_b"),
        col("w_matched"), col("w_only_a"), col("w_only_b"),
        kmvEstimate(k, col("union_k"), col("__kth")).as("est_union"))
      .withColumn("est_w_intersection",
        expr("CAST(est_union AS DECIMAL(38,0)) * w_matched DIV union_k"))
      .withColumn("est_w_a_minus_b",
        expr("CAST(est_union AS DECIMAL(38,0)) * w_only_a DIV union_k"))
      .withColumn("est_w_b_minus_a",
        expr("CAST(est_union AS DECIMAL(38,0)) * w_only_b DIV union_k"))
  }

  /** WEIGHTED-JACCARD estimate between two corpora from their
    * [[kmvSketchWeighted]] tables — the ratio composition the region
    * masses of [[kmvSetWeights]] stop short of:
    * `J_w(A,B) = Σ_x min(w_A(x), w_B(x)) / Σ_x max(w_A(x), w_B(x))`
    * over the union support (absent side reads weight 0), the standard
    * weighted/soft Jaccard (Ioffe '10 frames the same quantity for
    * consistent sampling). "How similar are two crawls BY BYTES, not by
    * document count" from two k-row tables.
    *
    * Estimator: the combined bottom-k is a uniform sample of A∪B's key
    * universe, so the ratio of the SAMPLED min-mass and max-mass sums
    * estimates the true ratio (a ratio-of-HT-estimators — the common
    * est_union·/union_k scale factor cancels, so the ppm needs no
    * scale-up at all); below k the sample IS the union and
    * `wjaccard_ppm` is EXACT. Output, ONE row: `union_k`, `matches`,
    * `w_min_sum` / `w_max_sum` (sampled masses; max per hash within one
    * sketch if duplicates disagree, the [[kmvSetWeights]] convention),
    * `wjaccard_ppm = w_min_sum·10⁶ DIV w_max_sum` (DECIMAL(38,0)
    * product, integer-exact; 0 when `w_max_sum` is 0 — all-zero weights
    * carry no mass to compare), `est_union`, and the Horvitz–Thompson
    * mass scale-ups `est_w_min` / `est_w_max` (the absolute-mass twins,
    * same DECIMAL(38,0) contract as [[kmvWeightedSum]]).
    *
    * Same plan shape as [[kmvOverlap]]: the corpus cost is the two
    * reusable sketch builds; everything here is driver-local sketch
    * algebra (nothing persisted — TVF-loop safe, see [[asLocal]]).
    */
  def kmvWeightedJaccard(wsketchA: DataFrame, wsketchB: DataFrame,
                         k: Int): DataFrame = {
    val a = localSketch(wsketchA.select(col("h"), col("w")), k,
      "kmvWeightedJaccard(wsketchA)", weighted = true)
    val b = localSketch(wsketchB.select(col("h"), col("w")), k,
      "kmvWeightedJaccard(wsketchB)", weighted = true)
    val u = flaggedUnion(a, b, k)
    // NOTE the historical flag convention here: `matches` counts hashes
    // whose max-weight is non-NULL on BOTH sides (a hash present in a
    // sketch with only NULL weights does not match), unlike the
    // membership flags of [[kmvSetWeights]] — preserved verbatim
    def agg(f: Seq[(Long, Boolean, Option[Long], Boolean, Option[Long])] => Long) =
      if (u.isEmpty) None else Some(f(u))
    statsRow(wsketchA.sparkSession, Seq(
        "union_k" -> Some(u.length.toLong),
        "matches" -> agg(_.count(r => r._3.isDefined && r._5.isDefined).toLong),
        "w_min_sum" -> agg(_.map(r =>
          math.min(r._3.getOrElse(0L), r._5.getOrElse(0L))).sum),
        "w_max_sum" -> agg(_.map(r =>
          math.max(r._3.getOrElse(0L), r._5.getOrElse(0L))).sum),
        "__kth" -> u.lastOption.map(_._1)))
      .select(col("union_k"), col("matches"),
        col("w_min_sum"), col("w_max_sum"),
        when(col("w_max_sum") === 0L, 0L)
          .otherwise(expr(
            "CAST(w_min_sum AS DECIMAL(38,0)) * 1000000 DIV w_max_sum"))
          .as("wjaccard_ppm"),
        kmvEstimate(k, col("union_k"), col("__kth")).as("est_union"))
      .withColumn("est_w_min",
        expr("CAST(est_union AS DECIMAL(38,0)) * w_min_sum DIV union_k"))
      .withColumn("est_w_max",
        expr("CAST(est_union AS DECIMAL(38,0)) * w_max_sum DIV union_k"))
  }

  /** Pairwise set-overlap MATRIX across every slice of one [[kmvSketch]]
    * table — "which of my N crawls/sources/snapshots overlap, and by how
    * much" as one relational product: a row per unordered slice pair
    * (`slice_a < slice_b`) with [[kmvOverlap]]'s five estimates. All work
    * is sketch-sized: the pair-union table holds ≤ N²·2k rows before the
    * bottom-k re-min collapses each pair to ≤ k — governance over any
    * corpus fleet costs N reusable sketch builds, never N² corpus joins.
    */
  def kmvOverlapMatrix(sketch: DataFrame, sliceCol: String,
                       k: Int): DataFrame = {
    // the slice-sketch subtree feeds EIGHT consumers (slice list, both
    // pair-union legs, both membership joins); cache the ≤ N·k-row table
    // so the corpus scan runs once (unchecked it ran 8×; NOTES.md round 14).
    // persist, not localCheckpoint: N slices is not driver-bounded (so no
    // asLocal), but cache-managed blocks are reclaimed by clearCache/LRU
    // instead of leaking per call until the ContextCleaner notices.
    val s = sketch.select(col(sliceCol).as("__s"), col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val slices = s.select("__s").distinct()
    val pairs = slices.select(col("__s").as("slice_a"))
      .join(slices.select(col("__s").as("slice_b")),
        col("slice_a") < col("slice_b"))
    val ua = pairs.join(s, col("slice_a") === col("__s")).drop("__s")
    val ub = pairs.join(s, col("slice_b") === col("__s")).drop("__s")
    val uni = ua.unionByName(ub).distinct()
    val bottom = uni.groupBy("slice_a", "slice_b")
      .agg(graft.functions.BottomK.distinct(col("h"), k).as("__hs"))
      .select(col("slice_a"), col("slice_b"), explode(col("__hs")).as("h"))
    val flagged = bottom
      .join(s.select(col("__s").as("slice_a"), col("h"),
        lit(1).as("__ina")), Seq("slice_a", "h"), "left")
      .join(s.select(col("__s").as("slice_b"), col("h"),
        lit(1).as("__inb")), Seq("slice_b", "h"), "left")
    flagged.groupBy("slice_a", "slice_b")
      .agg(
        count(lit(1)).as("union_k"),
        sum(when(col("__ina") === 1 && col("__inb") === 1, 1L).otherwise(0L))
          .as("matches"),
        max(col("h")).as("__kth"))
      .select(
        col("slice_a"), col("slice_b"), col("union_k"), col("matches"),
        expr("matches * 1000000 DIV union_k").as("jaccard_ppm"),
        kmvEstimate(k, col("union_k"), col("__kth")).as("est_union"))
      .withColumn("est_intersection",
        expr("est_union DIV union_k") * col("matches") +
          expr("(est_union % union_k) * matches DIV union_k"))
  }

  /** DRIFT ALARM with DEBOUNCE over a monitor's landed stats table (the
    * "when does the drift monitor actually page someone" composition —
    * [[embeddingDrift]] / [[categoricalDrift]] / any stats family): per
    * slice, a batch ALARMS when `breach` (a caller-supplied boolean over
    * the stats row, e.g. `col("dist2") >= lit(18000000L)`) has held for
    * `consecutive` landed batches in a row — a single noisy batch never
    * pages; a sustained breach pages on every breaching batch from the
    * `consecutive`-th on; a breach-gap-breach resets the counter. NULL
    * metrics read as non-breach (a slice absent from one side has no
    * drift signal, not an alarm).
    *
    * "Consecutive" means consecutive LANDED batches in `batchCol` order —
    * the monitor's retry-idempotent partitions make that the stream
    * order. Scale: one window over (slice, batch); the stats table is
    * slices × batches — metadata-sized, never the corpus.
    */
  def driftAlarm(stats: DataFrame, sliceCols: Seq[String], batchCol: Column,
                 breach: Column, consecutive: Int = 2): DataFrame = {
    require(consecutive >= 1, "driftAlarm: consecutive must be >= 1")
    // the output schema aliases batch_id/breached/alarm alongside the
    // slice columns; a slice column with one of those names would produce
    // duplicate output columns and an ambiguous window orderBy that fails
    // analysis with an opaque error — refuse it with an actionable one
    val reserved = Set("batch_id", "breached", "alarm")
    val clash = sliceCols.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"driftAlarm: sliceCols ${clash.mkString(", ")} collide with the " +
        "reserved output columns (batch_id, breached, alarm) — rename " +
        "the slice column before calling")
    val breached = coalesce(breach.cast("int"), lit(0))
    // project first, window over the projection: the window must order by
    // the RENAMED batch column or it would reference a dropped input
    val base = stats.select(sliceCols.map(col) :+
      batchCol.cast("long").as("batch_id") :+ breached.as("breached"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sliceCols.map(col): _*)
      .orderBy(col("batch_id"))
      .rowsBetween(-(consecutive - 1L), 0L)
    base.withColumn("alarm",
      (sum(col("breached")).over(w) === consecutive &&
        count(lit(1)).over(w) === consecutive).cast("int"))
  }

  private def finish(one: DataFrame, names: Seq[String]): DataFrame = {
    val perCol = names.map { c =>
      struct(lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__dst_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    one.select(explode(array(perCol: _*)).as("__p")).select("__p.*")
  }
}
