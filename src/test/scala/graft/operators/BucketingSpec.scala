package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("joining two co-bucketed tables plans WITHOUT a shuffle on either side") {
    val orders = (1L to 500L).map(i => (i, i % 37)).toDF("o_key", "o_cust")
    val items = (1L to 2000L).map(i => (i % 500 + 1, i)).toDF("o_key", "item")
    Bucketing.writeBucketed(orders, "bkt_orders", Seq("o_key"), numBuckets = 8)
    Bucketing.writeBucketed(items, "bkt_items", Seq("o_key"), numBuckets = 8)
    try {
      // bucketed scans need the per-file listing path, not AQE coalescing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readBucketed(spark, "bkt_orders")
        .join(Bucketing.readBucketed(spark, "bkt_items"), "o_key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // and it is still correct
      assert(joined.count() == 2000L)
      // bucketed groupBy on the join key also aggregates without exchange
      val agg = Bucketing.readBucketed(spark, "bkt_items")
        .groupBy("o_key").agg(count(lit(1)))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_items")
    }
  }

  test("band-index probe vs a (band, bh)-bucketed index: index side never re-shuffles") {
    // the production layout the streaming-loop scaladocs promise: the
    // persisted MinHash band index bucketed by its probe key, so the
    // nightly/streaming batch probe exchanges ONLY the (small) batch side
    // — the index is read in place, bucket files matched by task
    val corpus = (1L to 300L)
      .map(i => (i, s"document number $i about topic ${i % 29} with shared words"))
      .toDF("doc_id", "text")
    val batchDocs = (1000L to 1040L)
      .map(i => (i, s"document number $i about topic ${i % 29} with shared words"))
      .toDF("doc_id", "text")
    Bucketing.writeBucketed(
      Dedup.minhashBandIndex(corpus, "doc_id", "text"),
      "bkt_bandidx", Seq("band", "bh"), numBuckets = 8)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val index = Bucketing.readBucketed(spark, "bkt_bandidx")
      val newIdx = Dedup.minhashBandIndex(batchDocs, "doc_id", "text")
      val cand = newIdx.select(col("band"), col("bh"), col("id").as("new_id"))
        .join(index.select(col("band"), col("bh"), col("id").as("old_id")),
          Seq("band", "bh"))
      val plan = cand.queryExecution.executedPlan.toString
      // exactly one Exchange — the batch side; none above the bucketed scan
      assert(plan.split("Exchange").length - 1 == 1, plan)
      assert(plan.contains("Bucketed: true"), plan)
      // and the probe is still the correct cross-slice: same candidates
      // as the unbucketed index read
      val viaBucket = cand.select("new_id", "old_id").distinct()
        .as[(Long, Long)].collect().toSet
      val direct = newIdx.select(col("band"), col("bh"), col("id").as("new_id"))
        .join(Dedup.minhashBandIndex(corpus, "doc_id", "text")
          .select(col("band"), col("bh"), col("id").as("old_id")),
          Seq("band", "bh"))
        .select("new_id", "old_id").distinct()
        .as[(Long, Long)].collect().toSet
      assert(viaBucket == direct && viaBucket.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_bandidx")
    }
  }
}
