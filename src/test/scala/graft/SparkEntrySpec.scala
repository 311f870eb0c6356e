package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's maps, checked without a SparkSession. */
class SparkEntrySpec extends AnyFunSuite {

  test("battery row names are unique, so the name-keyed maps drop no row") {
    val names = Queries.all.map(_._1)
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"repeated row names: $repeated")
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql.size == Queries.all.count(_._2.sql.isDefined))
  }

  // Rows whose answers are the same by construction: a TVF and its API
  // twin, a streamed loop and its batch row, a compaction or layout twin.
  // Each group must carry one oracle text, so a fix to it reaches every
  // row of the group.
  private val twinGroups: Seq[Seq[String]] = Seq(
    Seq("q_argmax", "q_sql_tvf"),
    Seq("q_dynamic_equal", "q_sql_tvf_params"),
    Seq("q_union_rules", "q_sql_tvf_rules"),
    Seq("q_drift", "q_sql_tvf_drift"),
    Seq("q_dedup_simhash", "q_sql_tvf_dedup"),
    Seq("q_kmv_overlap", "q_sql_tvf_overlap"),
    Seq("q_kmv_diff", "q_sql_tvf_diff"),
    Seq("q_kmv_distinct", "q_kmv_stream", "q_sql_tvf_distinct"),
    Seq("q_knn_label", "q_sql_tvf_knn"),
    Seq("q_group_quantiles", "q_sql_tvf_quantiles"),
    Seq("q_asof_join", "q_sql_tvf_asof"),
    Seq("q_events_session", "q_sql_tvf_session"),
    Seq("q_drift_embed", "q_sql_tvf_drift_embed"),
    Seq("q_cms", "q_cms_stream"),
    Seq("q_sim_topk", "q_ann_ivf_tuned"),
    Seq("q_hybrid_rrf", "q_hybrid_rrf_ann"),
    Seq("q_bm25", "q_bm25_indexed", "q_bm25_stream", "q_bm25_compact_loop"),
    Seq("q_ann_ivf", "q_ann_ivf_stream", "q_ann_ivf_refit_loop",
      "q_ann_ivf_refit_resume"),
    Seq("q_ann_ivfpq", "q_ann_ivfpq_stream"),
    Seq("q_decontaminate", "q_decontam_bloom"),
    Seq("q_cdc_merge_loop", "q_cdc_merge_part"),
    Seq("q_salted_join", "q_bucketed_join"),
    Seq("q_partitioned_write", "q_lake_compact"),
    Seq("q_session_stream", "q_session_stream_uneven", "q_session_stream_files"),
    Seq("q_event_dedup_stream", "q_event_dedup_stream_uneven"),
    Seq("q_heavy_stream", "q_heavy_stream_uneven"),
    Seq("q_doc_ingest_stream", "q_doc_compact_loop"),
    Seq("q_chunk_ingest_stream", "q_chunk_compact_loop"),
    Seq("q_embed_ingest_stream", "q_embed_compact_loop"))

  test("every twin group shares one oracle text") {
    val sql = SparkEntry.oracleSql
    twinGroups.foreach { g =>
      val missing = g.filterNot(sql.contains)
      assert(missing.isEmpty, s"rows without an oracle: $missing")
      assert(g.map(sql).distinct.size == 1, s"twins with differing oracles: $g")
    }
  }
}
