package graft.tools

import graft.LocalSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-decade-further scaling evidence: derives a 10× corpus ("sf1") from
  * the sf0.1 test tables and times the five most expensive battery
  * pipelines on both, printing the markdown for SCALE.md.
  *
  * The derivation keeps the WORKLOAD SHAPE neutral rather than the exact
  * statistics:
  *  - documents replicate 10× with shifted ids; replicas k ≥ 1 tag every
  *    3rd token with a replica suffix, so cross-replica shingle Jaccard
  *    falls to ~(2/3)³ ≈ 0.3 — far below the 0.5 near-dup threshold —
  *    and the near-dup pair graph scales ~10× instead of forming
  *    10-replica cliques (which would measure a different algorithm).
  *  - embeddings replicate 10× with dimensions ROTATED by k: rotation
  *    preserves every within-replica inner product (the pair structure
  *    per replica is isomorphic to the original), while cross-replica
  *    cosines are random-vector small — no synthetic pair inflation.
  *
  * Run: sbt 'runMain graft.tools.ScaleTen [sf01Dir] [outDir]'
  */
object ScaleTen {
  /** Derives the 10× corpus at `out` (idempotent per table). Key shifts are
    * CONSISTENT across tables so foreign keys survive replication:
    * custkey/suppkey/partkey/doc_id/vec_id shift by k·10⁷, orderkey by
    * k·10⁸, user_id by k·10⁵ (partkey since round 15 — see the lineitem
    * block: unshifted part keys densified the parts-co-ordered graph the
    * q_triangles/q_clustering rows sweep).
    */
  def derive(spark: SparkSession, sf01: String, out: String): Unit = {
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$sf01/documents.parquet")
      val replicas = (0 until 10).map { k =>
        val tagged =
          if (k == 0) col("text")
          else array_join(
            transform(split(col("text"), " "),
              (w, i) => when(i % 3 === 0, concat(w, lit(s"x$k"))).otherwise(w)),
            " ")
        docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          tagged.as("text"),
          col("lang"), col("source"),
          length(tagged).cast("long").as("n_chars"))
      }
      replicas.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"derived 10x documents at $out")
    }

    if (!new java.io.File(s"$out/embeddings.parquet").exists()) {
      val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
      val embReplicas = (0 until 10).map { k =>
        val rotated =
          if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, 64 - k),
            slice(col("embedding"), 1, k))
        emb.select(
          (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          rotated.as("embedding"),
          col("label"))
      }
      embReplicas.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"derived 10x embeddings at $out")
    }

    if (!new java.io.File(s"$out/events.parquet").exists()) {
      // read through the unit-detecting shared reader (nanos or micros
      // source both land on a micros TIMESTAMP ts); the derived file is
      // then a native micros file and round-trips through Queries.events
      val ev = graft.Queries.events(spark, sf01)
      (0 until 10).map { k =>
        ev.select(
          (col("event_id") + lit(k * 10000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * 100000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
      println(s"derived 10x events at $out")
    }

    // per-file guards (not folded under events'): a run that died between
    // writes must still derive the missing files on rerun
    if (!new java.io.File(s"$out/orders.parquet").exists()) {
      // 10 disjoint copies of the co-purchase graph (shifted keys):
      // PageRank's node and edge universes both scale 10×
      val ord = spark.read.parquet(s"$sf01/orders.parquet")
      (0 until 10).map { k =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
      println(s"derived 10x orders at $out")
    }

    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      val li = spark.read.parquet(s"$sf01/lineitem.parquet")
      (0 until 10).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * 10000000L))
          // part keys shift too (round 15): the parts-co-ordered GRAPH
          // rows (q_triangles/q_clustering/q_degree_dist) key their nodes
          // on l_partkey — unshifted, 10 order replicas pile onto one
          // part universe and DENSIFY the graph (degree ×10 → wedges
          // ×100: the SCALE.md densification trap, a different workload,
          // not more of the same one). Shifted, the graph is 10 disjoint
          // copies — per-edge cost is honestly comparable across decades.
          // Safe because nothing in the battery joins lineitem⋈part (the
          // part DIM is scanned standalone by the rule-engine rows).
          .withColumn("l_partkey", col("l_partkey") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      println(s"derived 10x lineitem at $out")
    }

    if (!new java.io.File(s"$out/customer.parquet").exists()) {
      // customer keys shift like o_custkey above (k·10⁷) so every
      // customer⋈orders battery join sees the same match rate at 10×
      val cust = spark.read.parquet(s"$sf01/customer.parquet")
      (0 until 10).map { k =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")
      println(s"derived 10x customer at $out")
    }

    // nation/region/part/supplier are copied AS-IS: nation and region
    // are fixed-universe dims at every TPC-H SF, and the part/supplier
    // DIMS are only ever scanned standalone by the rule-engine rows
    // (nothing in the battery joins lineitem to either dim), so the
    // shifted l_suppkey/l_partkey fact columns don't need matching dim
    // replicas. The rule-engine scan queries over these dims therefore
    // measure the same data at sf1 (expected ratio ~1×).
    for (dim <- Seq("nation", "region", "part", "supplier"))
      if (!new java.io.File(s"$out/$dim.parquet").exists()) {
        spark.read.parquet(s"$sf01/$dim.parquet")
          .write.mode("overwrite").parquet(s"$out/$dim.parquet")
        println(s"copied $dim as-is to $out")
      }
  }

  def main(args: Array[String]): Unit = {
    val sf01 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val spark = LocalSession(32)

    derive(spark, sf01, out)
    // third arg "derive-only": stop after the corpus lands — the mode
    // battery-level sf1 anchors use (the battery rows re-run through
    // graft.Bench with SPARK_GRAFT_SF_DIR pointed here; the sweep below
    // is the per-family decade protocol, not the battery one)
    if (args.lift(2).contains("derive-only")) { spark.stop(); return }

    val names = Seq("q_curation_pipeline", "q_curation_decontam",
      "q_dedup_clusters", "q_repetition", "q_embed_neardup_lsh",
      // round-8 additions: span dedup (positional grams + per-doc windows),
      // quality model (md5 feature hashing), BM25 (scan-stage term filter),
      // Bloom-pushdown decontamination
      "q_span_dedup", "q_quality_model", "q_bm25", "q_decontam_bloom",
      // round-8 second wave: bigram LM (largest gram join), vocab-id
      // encoding (broadcast join + per-doc rebuild), span-removal curation
      // suffix, iterative PageRank, per-key interval islands, full-outer
      // snapshot diff
      "q_perplexity", "q_vocab_encode", "q_curation_spans", "q_pagerank",
      "q_merge_intervals", "q_snapshot_diff")

    // noop sink, not count(): count() lets Catalyst ELIMINATE work that
    // doesn't affect cardinality (q_quality_model's final left join has a
    // unique right key, so count() skipped the entire scoring pipeline);
    // the noop write forces every column of every row
    def time(name: String, dir: String): (Double, Long) = {
      // construction INSIDE the timer: operators that materialize during
      // construction (PageRank's final count, the CDC merges' writes)
      // would otherwise run off the clock and report bogus ~0.1 s rows
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, df.count())
    }

    // warm the JVM (codegen, classloading) on the small corpus so the
    // sf0.1 column measures data work, not first-query compilation
    names.foreach(n => time(n, "/root/testdata/sf0.01"))

    println("\n| query | sf0.1 | sf1 (10x) | time ratio | sf1 rows |")
    println("|---|---|---|---|---|")
    names.foreach { n =>
      val (t01, _) = time(n, sf01)
      val (t1, rows1) = time(n, out)
      println(f"| $n | $t01%.2f s | $t1%.2f s | ${t1 / t01}%.1f× | $rows1 |")
    }

    // LSH density response: at 10× corpus density the FIXED battery
    // tuning (planes=3) lets within-bucket candidate pairs grow ~100×;
    // the documented response is +log2(growth) planes. Measure both.
    def embedLsh(dir: String, planes: Int, tables: Int): (Double, Long) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val t0 = System.nanoTime()
      val rows = graft.operators.Dedup.embeddingPairsLsh(
        emb, "vec_id", "embedding", threshold = 0.45,
        planes = planes, tables = tables).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    println("\n| embeddingPairsLsh @ sf1 | planes | tables | time | pairs found |")
    println("|---|---|---|---|---|")
    for ((p, t) <- Seq((3, 8), (4, 8), (4, 16), (5, 16), (5, 32), (6, 32))) {
      val (sec, pairs) = embedLsh(out, p, t)
      println(f"| sf1 | $p | $t | $sec%.2f s | $pairs |")
    }
    // the model-derived tuning (LshTuning.forCorpus) against the same
    // corpus — the auto-tuned point should land on the sweep's efficient
    // frontier without hand-searching
    val n1 = spark.read.parquet(s"$out/embeddings.parquet").count()
    val auto = graft.operators.LshTuning.forCorpus(n1, threshold = 0.45)
    val (autoSec, autoPairs) = embedLsh(out, auto.planes, auto.tables)
    println(f"| sf1 AUTO (LshTuning) | ${auto.planes} | ${auto.tables} | $autoSec%.2f s | $autoPairs |")
    spark.stop()
  }
}
