package graft.streaming

import graft.SparkSpec
import graft.operators.{PathCommit, Similarity}
import org.apache.spark.sql.functions._

/** The streaming IVF maintenance loop ([[AnnStreams]]): fixed-centroid
  * assignment parity with the committed offline index (the battery row's
  * bit-equality foundation), delta-served probes vs the offline probe,
  * partition pruning in the serve plan, occupancy, and marker-guarded
  * compaction preserving the cluster layout.
  */
class AnnStreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
  private lazy val committed =
    Similarity.loadIvf(spark, "src/test/resources/golden/ivf_index")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("anns_spec").toString + "/assigned"

  private def queryVec(id: Long): Seq[Float] =
    emb.filter(col("vec_id") === id)
      .head().getSeq[Float](emb.columns.indexOf("embedding"))

  test("expression assignment reproduces the committed k-means assignment exactly") {
    val path = tmp()
    AnnStreams.processIvfBatch(emb.filter(col("vec_id") =!= 0), 0L,
      "vec_id", "embedding", committed.centroids, path)
    val streamed = spark.read.parquet(path)
      .select(col("vec_id"), col("__cluster").cast("int").as("sc"))
    val offline = committed.assigned
      .select(col("vec_id"), col("__cluster").cast("int").as("oc"))
    val joined = streamed.join(offline, "vec_id")
    assert(joined.count() == 499)
    assert(joined.filter(col("sc") =!= col("oc")).count() == 0,
      "streamed assignment diverged from the committed index")
  }

  test("delta-served probe == offline ivfTopK, bit for bit, across 3 batches") {
    val path = tmp()
    val corpus = emb.filter(col("vec_id") =!= 0)
    (0 until 3).foreach { i =>
      AnnStreams.processIvfBatch(corpus.filter(col("vec_id") % 3 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, path)
    }
    val q = queryVec(0L)
    val served = AnnStreams.ivfTopKStreamed(spark, path, committed.centroids,
        "vec_id", "embedding", q, k = 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val offline = Similarity.ivfTopK(committed, "vec_id", "embedding",
        q, k = 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(served == offline)
    // the probe prunes cluster partitions at the source: the scan's
    // partition filters carry __cluster, and nothing exchanges before
    // the TakeOrdered
    val plan = AnnStreams.ivfTopKStreamed(spark, path, committed.centroids,
        "vec_id", "embedding", q, k = 10, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cluster"), plan)
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Exchange"), plan)
  }

  test("NULL vectors are skipped; retry rewrites its own partitions") {
    val path = tmp()
    val rows = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
      .unionByName(Seq(3L).toDF("id").withColumn("v",
        lit(null).cast("array<float>")))
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    AnnStreams.processIvfBatch(rows, 0L, "id", "v", cents, path)
    assert(spark.read.parquet(path).count() == 2)
    // same-batch retry: identical content, not duplicated
    AnnStreams.processIvfBatch(rows, 0L, "id", "v", cents, path)
    val after = spark.read.parquet(path)
    assert(after.count() == 2)
    assert(after.filter(col("id") === 1L).select(col("__cluster").cast("int"))
      .head().getInt(0) == 0)
  }

  test("occupancy reports per-(batch, cluster) counts that sum to the published rows") {
    val path = tmp()
    val corpus = emb.filter(col("vec_id") =!= 0)
    (0 until 2).foreach { i =>
      AnnStreams.processIvfBatch(corpus.filter(col("vec_id") % 2 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, path)
    }
    val occ = AnnStreams.ivfOccupancy(spark, path)
    assert(occ.agg(sum("n")).head().getLong(0) == 499L)
    assert(occ.select(col("__batch_id").cast("long")).distinct().count() == 2)
    // every count matches a direct group-by over the raw path
    val direct = spark.read.parquet(path)
      .groupBy("__batch_id", "__cluster").count()
    assert(occ.join(direct, Seq("__batch_id", "__cluster"))
      .filter(col("n") =!= col("count")).count() == 0)
  }

  test("streamed IVF-PQ codes == offline artifact; delta ADC serve == offline probe") {
    val cb = Similarity.loadPqCodebook(spark,
      "src/test/resources/golden/pq_codebook")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val path = java.nio.file.Files.createTempDirectory("annpq_spec").toString + "/codes"
    (0 until 3).foreach { i =>
      AnnStreams.processIvfPqBatch(corpus.filter(col("vec_id") % 3 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, cb, path)
    }
    // the streamed table IS the offline artifact, row for row
    val offlineCodes = Similarity.ivfPqEncodedFor(committed, cb,
        cacheKey = "annpq-spec-offline", "vec_id", "embedding")
      .select(col("id"), col("code"), col("__cluster").cast("int").as("cl"))
      .as[(Long, Seq[Int], Int)].collect().toSet
    val streamedCodes = spark.read.parquet(path)
      .select(col("id"), col("code"), col("__cluster").cast("int").as("cl"))
      .as[(Long, Seq[Int], Int)].collect().toSet
    assert(streamedCodes == offlineCodes)
    // and the delta-served ADC probe is bit-equal to the offline probe
    val q = queryVec(0L)
    val served = AnnStreams.ivfPqTopKStreamed(spark, path, committed.centroids,
      q, cb, k = 10, nprobe = 4).as[(Long, Double)].collect().toSeq
    val offline = Similarity.ivfPqTopK(committed.centroids,
        Similarity.ivfPqEncodedFor(committed, cb,
          cacheKey = "annpq-spec-offline", "vec_id", "embedding"),
        q, cb, k = 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(served == offline)
    // pruned-scan plan across the batch partitions
    val plan = AnnStreams.ivfPqTopKStreamed(spark, path, committed.centroids,
      q, cb, k = 10, nprobe = 4).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cluster"), plan)
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Exchange"), plan)
  }

  test("refitSignal: recent-batch cluster-mix drift vs history, engineered skew") {
    val path = tmp()
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // history (batches 0, 1): balanced across both clusters
    AnnStreams.processIvfBatch(
      Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("id", "v"),
      0L, "id", "v", cents, path)
    AnnStreams.processIvfBatch(
      Seq((3L, Seq(1.0f, 0.1f)), (4L, Seq(0.1f, 1.0f))).toDF("id", "v"),
      1L, "id", "v", cents, path)
    // recent batch: everything crowds into cluster 0 — drift alert
    AnnStreams.processIvfBatch(
      Seq((5L, Seq(1.0f, 0.0f)), (6L, Seq(0.9f, 0.2f))).toDF("id", "v"),
      2L, "id", "v", cents, path)
    val sig = AnnStreams.refitSignal(spark, path, recentBatches = 1)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(sig(0) == (0, 2L, 2L, 500000L, 1000000L, 500000L))
    assert(sig(1) == (1, 2L, 0L, 500000L, 0L, 500000L))
    intercept[IllegalArgumentException] {
      AnnStreams.refitSignal(spark, path, recentBatches = 0)
    }
  }

  test("compactIvf consolidates into the seed, preserves clusters, serve unchanged") {
    val path = tmp()
    val corpus = emb.filter(col("vec_id") =!= 0)
    (0 until 3).foreach { i =>
      AnnStreams.processIvfBatch(corpus.filter(col("vec_id") % 3 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, path)
    }
    val q = queryVec(0L)
    val before = AnnStreams.ivfTopKStreamed(spark, path, committed.centroids,
      "vec_id", "embedding", q, k = 10, nprobe = 4).as[(Long, Double)].collect().toSeq
    AnnStreams.compactIvf(spark, path, uptoBatch = 1L, targetFiles = 2)
    // batches 0 and 1 merged into the seed; batch 2 intact
    val ids = spark.read.parquet(path)
      .select(col("__batch_id").cast("long")).distinct()
      .as[Long].collect().toSet
    assert(ids == Set(-1L, 2L))
    // the seed keeps the __cluster sub-partitioning (pruning survives)
    val seedDirs = new java.io.File(path + "/__batch_id=-1").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(seedDirs.nonEmpty && seedDirs.forall(_.startsWith("__cluster=")), seedDirs.mkString(","))
    assert(spark.read.parquet(path).count() == 499)
    val after = AnnStreams.ivfTopKStreamed(spark, path, committed.centroids,
      "vec_id", "embedding", q, k = 10, nprobe = 4).as[(Long, Double)].collect().toSeq
    assert(after == before)
  }

  test("refitIvf: serve switches to the new fit exactly once, old geometry fully gone") {
    val path = tmp()
    val corpus = emb.limit(300)
    (0 until 2).foreach { i =>
      AnnStreams.processIvfBatch(corpus.filter(col("vec_id") % 2 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, path)
    }
    val q = queryVec(17L)
    val oldServe = AnnStreams.ivfTopKStreamed(spark, path, committed.centroids,
      "vec_id", "embedding", q, k = 10, nprobe = 16)
      .as[(Long, Double)].collect().toSeq

    // a DIFFERENT fit: fewer, shifted centroids — cluster geometry changes
    val newCents = committed.centroids.take(5).map(_.map(_ * 0.5 + 0.01))
    AnnStreams.refitIvf(spark, path, newCents, "vec_id", "embedding",
      uptoBatch = 1L)

    // every row re-homed exactly once: same ids, no doubles, all seed batch
    val t = spark.read.parquet(path)
    assert(t.count() == 300L)
    assert(t.select("vec_id").distinct().count() == 300L)
    assert(t.select("__batch_id").distinct().as[Long].collect().toSeq == Seq(-1L))
    // no stale cluster dirs beyond the new fit's range
    val clusters = t.select("__cluster").distinct().as[Int].collect()
    assert(clusters.forall(c => c >= 0 && c < 5), clusters.toSeq.toString)
    // serve under the new fit == offline assignment under the new fit
    // (nprobe = all clusters → exact top-k, comparable across fits)
    val newServe = AnnStreams.ivfTopKStreamed(spark, path, newCents,
      "vec_id", "embedding", q, k = 10, nprobe = 5)
      .as[(Long, Double)].collect().toSeq
    assert(newServe == oldServe) // all-cluster probes are exact: fit-invariant
    // pruned serve still works and the staging/marker debris is gone
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__refit_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__refit_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__refit_marker")))

    // uptoBatch must cover every published batch
    AnnStreams.processIvfBatch(corpus.limit(10), 7L, "vec_id", "embedding",
      newCents, path)
    intercept[IllegalArgumentException] {
      AnnStreams.refitIvf(spark, path, newCents, "vec_id", "embedding",
        uptoBatch = 3L)
    }
  }

  test("refitIvf crash-resume: completes from every post-marker state, never doubles") {
    val fsFor = (p: String) => new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newCents = committed.centroids.take(4)

    // State A: crash right after the marker, before any rename
    // (root + tmp + marker). Manufacture it by running a real stage:
    // refit on a CLONE, then transplant its tmp+marker next to the live
    // table before the renames would have happened.
    val path = tmp()
    val corpus = emb.limit(200)
    (0 until 2).foreach { i =>
      AnnStreams.processIvfBatch(corpus.filter(col("vec_id") % 2 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, path)
    }
    val fs = fsFor(path)
    // stage what refit WOULD stage (same arithmetic), then write the marker
    spark.read.parquet(path)
      .select(col("vec_id"), col("embedding"),
        AnnStreams.assignCluster(col("embedding"), newCents).as("__cluster"))
      .withColumn("__batch_id", lit(-1L))
      .write.partitionBy("__batch_id", "__cluster").parquet(path + "__refit_tmp")
    val out = fs.create(new org.apache.hadoop.fs.Path(path + "__refit_marker"), true)
    try out.write("1".getBytes("UTF-8")) finally out.close()

    // the next refit call resumes the interrupted swap instead of re-staging
    AnnStreams.refitIvf(spark, path, newCents, "vec_id", "embedding", 1L)
    val t = spark.read.parquet(path)
    assert(t.count() == 200L && t.select("vec_id").distinct().count() == 200L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__refit_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__refit_marker")))

    // State B: crash between the two renames (old + tmp + marker, no root)
    val path2 = tmp()
    (0 until 2).foreach { i =>
      AnnStreams.processIvfBatch(corpus.filter(col("vec_id") % 2 === i),
        i.toLong, "vec_id", "embedding", committed.centroids, path2)
    }
    val fs2 = fsFor(path2)
    spark.read.parquet(path2)
      .select(col("vec_id"), col("embedding"),
        AnnStreams.assignCluster(col("embedding"), newCents).as("__cluster"))
      .withColumn("__batch_id", lit(-1L))
      .write.partitionBy("__batch_id", "__cluster").parquet(path2 + "__refit_tmp")
    val out2 = fs2.create(new org.apache.hadoop.fs.Path(path2 + "__refit_marker"), true)
    try out2.write("1".getBytes("UTF-8")) finally out2.close()
    assert(fs2.rename(new org.apache.hadoop.fs.Path(path2),
      new org.apache.hadoop.fs.Path(path2 + "__refit_old")))

    assert(PathCommit.resume(spark, path2, "refit"))
    val t2 = spark.read.parquet(path2)
    assert(t2.count() == 200L && t2.select("vec_id").distinct().count() == 200L)
    assert(t2.select("__cluster").distinct().as[Int].collect().forall(_ < 4))
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(path2 + "__refit_old")))
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(path2 + "__refit_marker")))

    // State C: crash after both renames (root(new) + old + marker)
    val path3 = tmp()
    AnnStreams.processIvfBatch(corpus, 0L, "vec_id", "embedding",
      newCents, path3)
    val fs3 = fsFor(path3)
    fs3.mkdirs(new org.apache.hadoop.fs.Path(path3 + "__refit_old"))
    val out3 = fs3.create(new org.apache.hadoop.fs.Path(path3 + "__refit_marker"), true)
    try out3.write("0".getBytes("UTF-8")) finally out3.close()
    assert(PathCommit.resume(spark, path3, "refit"))
    assert(!fs3.exists(new org.apache.hadoop.fs.Path(path3 + "__refit_old")))
    assert(!fs3.exists(new org.apache.hadoop.fs.Path(path3 + "__refit_marker")))
    assert(spark.read.parquet(path3).count() == 200L)

    // no marker → resume is a no-op
    assert(!PathCommit.resume(spark, path3, "refit"))
  }
}
