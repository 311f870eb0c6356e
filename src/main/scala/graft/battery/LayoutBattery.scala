package graft

import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object LayoutBattery {
  import Queries.{Q, table}

  // the lake layout rows' content: the plain documents projection
  private val docsLayoutOracle = Some("SELECT doc_id, lang, n_chars FROM documents")

  val queries: Seq[(String, Q)] = Seq(
    // Shuffle-free co-located join over the bucketed-table layout: both
    // sides written bucketed by the join key ONCE per JVM (the nightly
    // layout job), then joined with no Exchange on either side
    // (spec-pinned in BucketingSpec; this row makes the layout's RESULT
    // driver-verifiable against a plain join oracle).
    "q_bucketed_join" -> Q(
      (s, dir) => {
        val sfx = graft.operators.KeyDigest(dir)
        val o = graft.operators.Bucketing.ensureBucketed(
          s, s"b_orders_$sfx", Seq("o_orderkey"), 8)(table(s, dir, "orders"))
        val l = graft.operators.Bucketing.ensureBucketed(
          s, s"b_lineitem_$sfx", Seq("l_orderkey"), 8)(table(s, dir, "lineitem"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          // long-cents accumulation, same as q1_agg (exact for 2-dec money)
          .agg((sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0)
            .as("sum_price"),
            count(lit(1)).as("cnt"))
      },
      BatteryUtil.orderStatusPriceOracle),

    // PARTITIONED LAKE WRITER with hot-partition small-files control
    // (was spec-only — LakeSpec pinned file counts vs the naive writer;
    // this row puts the round-trip CONTENT under the oracle hash): route
    // the documents projection into lang= dirs with a filesPerPartition=2
    // row-hash salt, assert the physical layout via fileStats (every
    // partition dir holds ≤ 2 files — the writer's contract — and at
    // least one dir actually split: deterministic here, the salt is
    // xxhash64 of the whole row over ≥64 rows/lang at every SF), then
    // return the full read-back so the partition-column restore and row
    // fidelity are driver-gated.
    "q_partitioned_write" -> Q(
      (s, dir) => {
        val out = Queries.tempDir("graft_partwrite") + "/docs"
        graft.operators.Lake.writePartitioned(
          table(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          out, Seq("lang"), filesPerPartition = 2)
        val stats = graft.operators.Lake.fileStats(s, out)
          .select(col("partition"), col("file_count")).collect()
        require(stats.nonEmpty && stats.forall(_.getLong(1) <= 2L),
          s"filesPerPartition=2 exceeded: ${stats.mkString(", ")}")
        require(stats.exists(_.getLong(1) == 2L),
          "expected at least one salt-split partition at this SF")
        s.read.parquet(out).select(col("doc_id"), col("lang"), col("n_chars"))
      },
      docsLayoutOracle),

    // PARQUET SMALL-FILE COMPACTION MUST BE INVISIBLE (VERDICT-r18 #4 —
    // the q_*_compact_loop pattern applied to the lake maintenance
    // operator): spray the documents projection across 32 tiny files
    // (the streaming-append failure mode Lake.compact exists to undo),
    // assert the layout via Lake.fileStats, compact with a target size
    // that collapses it to ONE file (asserted: returned count, fileStats
    // read-back, and n_small gone), then return the FULL post-compaction
    // content — the oracle is the plain documents projection, so any row
    // compaction lost, duplicated, or mangled fails the hash gate.
    "q_lake_compact" -> Q(
      (s, dir) => {
        val out = Queries.tempDir("graft_lakecompact") + "/docs"
        table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .repartition(32)
          .write.parquet(out)
        val before = graft.operators.Lake.fileStats(s, out)
          .select(col("file_count"), col("n_small")).head()
        require(before.getLong(0) == 32L,
          s"expected 32 pre-compaction files, saw ${before.getLong(0)}")
        require(before.getLong(1) == 32L,
          "every sprayed file should be small")
        val nFiles = graft.operators.Lake.compact(s, out,
          targetFileBytes = 1L << 30, sortBy = Seq(col("doc_id")))
        require(nFiles == 1, s"compaction target was 1 file, got $nFiles")
        val after = graft.operators.Lake.fileStats(s, out)
          .select(col("file_count")).head()
        require(after.getLong(0) == 1L,
          s"read-back layout has ${after.getLong(0)} files, expected 1")
        s.read.parquet(out)
      },
      docsLayoutOracle),
  )
}
