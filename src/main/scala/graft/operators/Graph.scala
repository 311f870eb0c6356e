package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over edge tables — the link-analysis tier a
  * web-crawl curation pipeline uses for host/page quality weighting
  * (CommonCrawl-style harmonic/PageRank centrality feeding per-source
  * sampling weights; see [[Sampling.stratifiedExactN]] /
  * [[Mixing.allocateByTemperature]] for the consumers).
  *
  * Pointer-jumping connected components live in [[Dedup]] (near-dup
  * clustering); this file holds rank propagation.
  */
object Graph {

  /** PAGERANK with EXACT INTEGER arithmetic — `iterations` rounds of the
    * standard damped propagation, every step in fixed-point Q-space
    * (`scaleBits` fractional bits, damping 0.85 as the rational 85/100):
    *
    *   rank⁰(v)   = Q div n
    *   rank^k(v)  = (Q·15 div 100) div n  +  Σ_{u→v} rank^{k-1}(u)·85 div (100·outdeg(u))
    *
    * Floor division everywhere, all operands non-negative — so every
    * engine (and every partitioning) computes the SAME bits: float
    * PageRank sums in aggregation order, which differs run to run;
    * integer sums cannot. The truncated remainders (and the mass of
    * DANGLING nodes — no out-edges) simply leak, which is fine for the
    * purpose: ranks are a relative quality ordering, not a probability
    * measure; callers wanting the classic distribution can renormalize
    * offline.
    *
    * Scale: the Pregel shape, relationally — per iteration ONE join of
    * the rank table onto edges (shuffle keyed by src) and ONE map-side-
    * combined aggregate onto dst; the node universe and out-degree tables
    * build once and persist. A hot dst (every page links to the hub)
    * reduces map-side; a hot src broadcasts its rank row naturally with
    * the join. `iterations` is small and fixed (rank ordering stabilizes
    * in a handful of rounds — the classic 10-15 for full convergence);
    * every round gets a `persist` barrier so no stage recomputes a prior
    * round. SHORT chains (≤ 5 rounds) stay LAZY — one action at the end
    * walks the persisted chain, avoiding the per-round action+AQE job
    * overhead that otherwise dominates wall-clock; LONG chains flip to
    * eager per-round materialization (count, then unpersist-behind),
    * which bounds live cache at two rank tables and keeps the evaluated
    * lineage flat. `eagerEveryRound` overrides the heuristic. The final
    * rank table is MATERIALIZED before return and every other cached
    * table (edges, out-degrees, nodes, superseded rounds) is released —
    * the result is the only persist the call leaves behind.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, scaleBits: Int = 40,
               eagerEveryRound: Option[Boolean] = None,
               edgesDistinct: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(scaleBits >= 10 && scaleBits <= 46,
      "scaleBits in [10, 46]: rank·85 must stay far from Long overflow")
    val q = 1L << scaleBits
    // a NULL endpoint is not an edge: it would sit in the node universe
    // collecting base rank while every join silently skipped it — drop
    // such rows up front. `edgesDistinct = true` is the caller's promise
    // that the edge set carries no duplicate (src,dst) rows — e.g. it was
    // deduplicated upstream on narrower key columns before widening to
    // string ids — and skips the global shuffle a redundant re-distinct
    // would cost (at 100 TB that is a full exchange of the edge table;
    // a wrong promise double-counts contributions, so it is opt-in).
    val dedup = (df: DataFrame) => if (edgesDistinct) df else df.distinct()
    // The edge table is the BIG side of every iteration's join and is
    // keyed by src in all of them (the rank join, the out-degree
    // aggregate) — so it is hash-partitioned by src ONCE before the
    // persist, and the cached partitioning is reused by every consumer
    // (guide §2.4: operations keyed the same way share one exchange).
    // Without this, each of the `iterations` rank joins and the out-degree
    // groupBy re-exchanged the full edge table: 1 + iterations full-edge
    // shuffles collapse to 1 — at 100 TB the edge exchange IS the job.
    val e = dedup(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
      .repartition(col("src"))
      .persist()
    val outd = e.groupBy("src").agg(count(lit(1)).as("__od")).persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().persist()
    // The node cardinality is a SCALAR and every round's base-rank term is
    // a pure function of it — count it ONCE driver-side (one job over the
    // just-persisted node table) and fold the two division terms into Long
    // literals. The previous shape re-planned crossJoin(broadcast(count))
    // twice per round: iterations+1 extra count jobs whose fixed overhead
    // dominated the battery wall for this operator.
    val n = nodes.count()
    require(n > 0, "pageRank: edge table has no non-null edges")
    val rank0 = q / n                       // rank⁰(v)  = Q div n
    val teleport = ((q * 15) / 100) / n     // per-round (Q·15 div 100) div n
    val eager = eagerEveryRound.getOrElse(iterations > 5)
    var rank = nodes.select(col("node"), lit(rank0).as("rank_q"))
    var persisted = List.empty[DataFrame]
    for (_ <- 1 to iterations) {
      // SHUFFLE_HASH on the node-sized sides: sort-merge would re-SORT the
      // cached edge table by src every iteration (the partitioning is
      // cached, an ordering is not); hashing the rank/out-degree tables
      // streams the edges unsorted — the deliberate small-side hash join
      // of guide §3.1, safe because both build sides are node-count-sized
      val contribs = e
        .join(rank.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .join(outd.hint("shuffle_hash"), "src")
        .select(col("dst"), expr("(rank_q * 85) div (100 * __od)").as("__contrib"))
        .groupBy("dst").agg(sum(col("__contrib")).as("__in"))
      val next = nodes
        .join(contribs.hint("shuffle_hash"), col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(teleport) + coalesce(col("__in"), lit(0L))).as("rank_q"))
        .persist()
      if (eager) {
        next.count() // materialize before unpersisting the parent
        persisted.foreach(_.unpersist())
        persisted = List(next)
      } else persisted ::= next
      rank = next
    }
    // Materialize the final table while the whole chain is still cached,
    // then RELEASE everything it no longer needs — base tables and all
    // superseded rounds. Without this, repeated calls in a long-lived JVM
    // accumulate cached DataFrames until memory pressure evicts them. The
    // returned table stays persisted; callers that are done with it
    // unpersist it like any cached DataFrame.
    rank.count()
    persisted.filterNot(_ eq rank).foreach(_.unpersist())
    e.unpersist(); outd.unpersist(); nodes.unpersist()
    rank
  }

  /** Canonical undirected edge table: one row per unordered endpoint pair
    * `(a < b)`, self-loops dropped, duplicates and reversed duplicates
    * collapsed. The normalization every undirected-graph metric below
    * starts from.
    */
  private def canonical(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()

  /** DEGREE DISTRIBUTION of the undirected graph: one row per degree
    * value with the node count — the first look at any link graph (hub
    * detection, power-law sanity, the input to a crawl-frontier policy).
    * Two map-combined aggregates; output is bounded by the distinct
    * degree count.
    */
  def degreeDistribution(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    // explode, not a two-select union: the canonical table carries a
    // distinct exchange, and a union would run it twice
    canonical(edges, srcCol, dstCol)
      .select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** GLOBAL TRIANGLE COUNT — the clustering-structure scalar (community
    * density, spam-farm detection on link graphs) computed with the
    * degree-ordered node-iterator (Schank–Wagner): orient every canonical
    * edge from its LOWER-(degree, id) endpoint to the higher, build
    * wedges by self-joining oriented edges on the source, and count
    * wedges whose far endpoints are themselves an oriented edge.
    *
    * The orientation is the whole scale story: out-degree under the
    * (degree, id) order is O(√m) for ANY graph, so the wedge table —
    * Σ outdeg² — is bounded by m^1.5 even on a power-law graph where the
    * naive neighbor self-join (Σ deg²) explodes on the first hub. Three
    * hash joins, one count; no iteration, no driver state. Output: one
    * row, `n_triangles` BIGINT (each triangle counted exactly once: its
    * wedge forms only at its smallest-ranked vertex).
    */
  def triangleCount(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame =
    withTriangles(edges, srcCol, dstCol) { (tri, _) =>
      tri.agg(count(lit(1)).as("n_triangles"))
    }

  /** Every triangle as one row `(x, v, w)` (x = the triangle's
    * smallest-(degree, id) vertex — each triangle appears EXACTLY once),
    * via the degree-ordered wedge machinery shared by [[triangleCount]]
    * and [[clusteringCoefficients]].
    *
    * The oriented edge table feeds THREE consumers (both wedge legs and
    * the closing semi-join) and the degree table two; left lazy, Catalyst
    * duplicates each subtree per consumer and the edge normalization runs
    * ~30 times (62 shuffles for what is three joins; SCALE.md "Round-14
    * governance + graph rows"). So the shared tables PERSIST for the call
    * and `f`'s result is MATERIALIZED ([[Barrier.cut]] — the [[pageRank]]
    * discipline) before they are released: intermediates never leak past
    * the call, and the caller gets a computed table whose lineage no
    * longer references them.
    */
  private def withTriangles(edges: DataFrame, srcCol: String,
                            dstCol: String)(
      f: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val und = canonical(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // rank = (degree, id); orient u -> v iff rank(u) < rank(v).
    // SHUFFLE_HASH on the degree side (round-20, guide §3.1 — found via
    // the plan-capture hook below: these two joins were the remaining
    // SortMergeJoins of the operator, each SORTING the m-row canonical
    // edge table inside the `oriented` cache build): deg is node-sized,
    // so hashing it streams the edges unsorted — the same deliberate
    // small-side hash join as the wedge legs. Skew note (ADVICE r19):
    // the build side is the DEGREE table (one row per node), so a hub
    // vertex is one build row, not a hot build partition.
    val withRanks = und
      .join(deg.select(col("n").as("a"), col("d").as("__da"))
        .hint("shuffle_hash"), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__db"))
        .hint("shuffle_hash"), "b")
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    // hash-partitioned by u BEFORE the persist: both wedge legs join on
    // x = u, so the cached partitioning makes the wedge self-join
    // exchange-free (guide §2.4) — one m-row exchange here replaces two
    // at the join (and the legs' sorts, with the hash hint below)
    val oriented = withRanks.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("__db")).otherwise(col("__da")).as("__dv"))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at x: unordered {v, w} pairs of out-neighbors, emitted once
    // (rank(v) < rank(w)) so the closing lookup is exactly the oriented
    // (v, w) edge
    val e1 = oriented.select(col("u").as("x"), col("v"), col("__dv"))
    val e2 = oriented.select(col("u").as("x"), col("v").as("w"),
      col("__dv").as("__dw"))
    // SHUFFLE_HASH, both stages (guide §3.1): sort-merge would SORT the
    // wedge table — the m^1.5-row quantity this orientation exists to
    // bound — at the closing semi-join, and both (already co-partitioned)
    // legs at the self-join. Hashing the m-row side instead streams the
    // m^1.5 rows unsorted; per-partition build sides are edge-sized.
    val wedges = e1.join(e2.hint("shuffle_hash"), Seq("x"))
      .filter(col("__dv") < col("__dw") ||
        (col("__dv") === col("__dw") && col("v") < col("w")))
      .select(col("x"), col("v"), col("w"))
    val tri = wedges.join(
        oriented.select(col("u").as("v"), col("v").as("w")).hint("shuffle_hash"),
        Seq("v", "w"), "left_semi")
      .select("x", "v", "w")
    val resultLazy = f(tri, deg.select(col("n").as("node"),
      col("d").as("degree")))
    // plan-capture hook (round-20, dev-only): the RETURNED frame is a
    // [[Barrier.cut]] — an RDD scan whose explain proves nothing about
    // the wedge machinery (the r19 plan dumps were vacuous for exactly
    // this reason). With -Dgraft.plan.capture.dir set, the PRE-checkpoint
    // plan (the wedge self-join + closing semi-join this operator exists
    // to shape) is written there; unset in production and the bench.
    sys.props.get("graft.plan.capture.dir").foreach { d =>
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(d))
      val p = dir.resolve(s"withTriangles_${System.nanoTime()}.txt")
      java.nio.file.Files.write(p, resultLazy.queryExecution
        .explainString(org.apache.spark.sql.execution
          .ExplainMode.fromString("formatted"))
        .getBytes("UTF-8"))
      ()
    }
    val result = Barrier.cut(resultLazy, "Graph.withTriangles/result")
    oriented.unpersist()
    deg.unpersist()
    und.unpersist()
    result
  }

  /** LOCAL CLUSTERING COEFFICIENTS: per node, its degree, the triangles
    * through it, and the coefficient `2T·10⁶ div (d·(d−1))` in exact
    * integer ppm (0 for degree < 2) — the per-page community-density
    * signal (a high-degree page with near-zero clustering is the classic
    * link-spam shape; a high-clustering one sits inside a genuine
    * community). Nodes with no triangles keep their row (coefficient 0).
    * Cost: the triangle table exploded ×3 + one aggregate — same m^1.5
    * bound as the count.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame =
    withTriangles(edges, srcCol, dstCol) { (tri, deg) =>
      val perNode = tri
        .select(explode(array(col("x"), col("v"), col("w"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("__t"))
      // SHUFFLE_HASH (round-20, §3.1): both sides are node-sized but
      // sort-merge would SORT each — hashing the per-node triangle
      // counts streams the degree table unsorted
      deg.join(perNode.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), col("degree"),
          coalesce(col("__t"), lit(0L)).as("n_triangles"))
        .withColumn("coeff_ppm",
          when(col("degree") < 2, lit(0L)).otherwise(
            // pre-divided denominator (d(d−1) is even, so DIV 2 is exact,
            // and floor(2T·10⁶/(d(d−1))) ≡ floor(T·10⁶/(d(d−1)/2)) —
            // bit-identical output): the naive 2T·10⁶ numerator wraps
            // BIGINT at a full-clique hub of degree ≈ 3·10⁶, plausible on
            // web-scale link graphs. Remaining bounds, documented like
            // Profile.histogram's: T ≤ 9.2·10¹² per node (full clique at
            // degree ≈ 4.3·10⁶; real graphs sit far below the clique
            // bound) and degree ≤ 3·10⁹ for d(d−1) itself.
            expr("n_triangles * 1000000 DIV (degree * (degree - 1) DIV 2)")))
    }
}
