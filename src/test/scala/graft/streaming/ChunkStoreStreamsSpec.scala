package graft.streaming

import graft.SparkSpec
import graft.functions.CdcChunks
import graft.operators.PathCommit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ChunkStoreStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def detBytes(n: Int, seed: Long): Array[Byte] =
    Array.tabulate(n)(i => (CdcChunks.splitmix64(seed * 1000003L + i) & 0xff).toByte)

  private def blobs(rows: (Long, Array[Byte])*): DataFrame =
    rows.toDF("blob_id", "payload")

  test("chunk-store loop: index grows by firsts only, hits and dups never re-stored") {
    val indexPath = tmp("graft_csidx")
    val statsPath = tmp("graft_csstats")
    val shared = detBytes(1500, 31L)
    val other = detBytes(1500, 32L)
    val third = detBytes(1500, 33L)

    // batch 0: two blobs, one shared payload duplicated within the batch
    ChunkStoreStreams.processChunkBatch(
      blobs((1L, shared), (2L, shared), (3L, other)), 0L,
      "blob_id", "payload", indexPath, statsPath, 16, 5, 256)
    val idx0 = spark.read.parquet(indexPath)
    // firsts only: every (hash, length) key exactly once
    assert(idx0.count() == idx0.select("hash", "length").distinct().count())
    // the duplicated payload stored once: only blob 1's copies are firsts
    assert(idx0.select("id").distinct().as[Long].collect().toSet == Set(1L, 3L))

    // batch 1: re-send of stored content (all hits) + fresh content
    ChunkStoreStreams.processChunkBatch(
      blobs((10L, shared), (11L, third)), 1L,
      "blob_id", "payload", indexPath, statsPath, 16, 5, 256)
    val idx1 = spark.read.parquet(indexPath)
    assert(idx1.count() == idx1.select("hash", "length").distinct().count())
    // blob 10 contributed nothing (all its chunks were hits)
    assert(idx1.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 3L, 11L))

    // per-batch stats rows: batch 1's hit bytes == the re-sent payload
    val stats = spark.read.parquet(statsPath)
    assert(stats.count() == 2L)
    val s1 = stats.filter(col("__batch_id") === 1L).head()
    assert(s1.getAs[Long]("hit_bytes") == 1500L)
    assert(s1.getAs[Long]("stored_bytes") == 1500L)
    assert(s1.getAs[Long]("dup_bytes") == 0L)

    // retry idempotence: re-running batch 1 rewrites exactly its own
    // partition — index content identical (deterministic chunking +
    // history excludes the in-flight batch)
    val before = idx1.orderBy("hash", "length").collect().toSeq
    ChunkStoreStreams.processChunkBatch(
      blobs((10L, shared), (11L, third)), 1L,
      "blob_id", "payload", indexPath, statsPath, 16, 5, 256)
    val after = spark.read.parquet(indexPath)
      .orderBy("hash", "length").collect().toSeq
    assert(after == before)
    assert(spark.read.parquet(statsPath).count() == 2L)
  }

  test("processChunkBatch leaves no persisted blocks behind (no per-batch leak)") {
    val indexPath = tmp("graft_csidx3")
    val statsPath = tmp("graft_csstats3")
    // long-running ingest loops call this once per micro-batch: any
    // lingering persisted table accumulates for the life of the JVM
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (0L to 2L).foreach { b =>
      ChunkStoreStreams.processChunkBatch(
        blobs((b * 10, detBytes(1500, 50L + b)), (b * 10 + 1, detBytes(1500, 60L + b))),
        b, "blob_id", "payload", indexPath, statsPath, 16, 5, 256)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("chunk-store loop end to end over a MemoryStream; compaction keeps labels") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath = tmp("graft_csidx2")
    val statsPath = tmp("graft_csstats2")
    val a = detBytes(1400, 41L)
    val b = detBytes(1400, 42L)

    val mem = MemoryStream[Long]
    val stream = mem.toDF().toDF("blob_id")
      .withColumn("payload",
        // deterministic per-id payload: ids 100/101 share content
        when(col("blob_id") <= 101L, lit(a)).otherwise(lit(b)))
    val q = ChunkStoreStreams.ingestChunkStore(stream, "blob_id", "payload",
      indexPath, statsPath, minSize = 16, maskBits = 5, maxSize = 256).start()
    try {
      mem.addData(100L)        // fresh content a
      q.processAllAvailable()
      mem.addData(101L, 200L)  // 101 re-sends a (hits), 200 fresh b
      q.processAllAvailable()
    } finally q.stop()

    val idx = spark.read.parquet(indexPath)
    assert(idx.count() == idx.select("hash", "length").distinct().count())
    assert(idx.select("id").distinct().as[Long].collect().toSet ==
      Set(100L, 200L)) // 101 stored nothing
    val stats = spark.read.parquet(statsPath).orderBy("__batch_id").collect()
    assert(stats.length == 2)
    assert(stats(1).getAs[Long]("hit_bytes") == 1400L)

    // compaction consolidates batches; a follow-up batch's labels are
    // unchanged (content facts, not positions)
    PathCommit.compactIntoSeed(spark, indexPath, uptoBatch = 1L,
      targetFiles = 2)(identity)
    ChunkStoreStreams.processChunkBatch(
      blobs((300L, a), (301L, detBytes(1400, 43L))), 5L,
      "blob_id", "payload", indexPath, statsPath, 16, 5, 256)
    val idx2 = spark.read.parquet(indexPath)
    assert(idx2.count() == idx2.select("hash", "length").distinct().count())
    assert(idx2.select("id").distinct().as[Long].collect().toSet ==
      Set(100L, 200L, 301L)) // 300 hit the compacted history
  }
}
