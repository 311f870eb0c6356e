package graft.streaming

import graft.SparkSpec
import graft.operators.{Multimodal, PathCommit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MediaStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  // gradient-image payloads for a set of ids (family = id div 4: variants
  // of one family are near-dups at Hamming <= 3; families are far)
  private def media(ids: Long*): DataFrame =
    Multimodal.withGradientImagePayload(ids.toDF("media_id"), "media_id")

  private val imageHasher: (DataFrame, String) => DataFrame =
    (df, id) => Multimodal.dHash64(df, id)

  test("streaming media ingest-dedup: history, in-batch, cross-batch, corrupt passthrough") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath = tmp("graft_midx")
    val outPath = tmp("graft_mlake")

    // history: family 0 variants 0,1 already published (the nightly seed)
    PathCommit.seed(
      imageHasher(media(0L, 1L), "media_id"), indexPath)

    val mem = MemoryStream[Long]
    val stream = mem.toDF().toDF("media_id")
      .transform(df => Multimodal.withGradientImagePayload(df, "media_id"))
    val q = MediaStreams.ingestMediaDedup(stream, "media_id", imageHasher,
      indexPath, outPath).start()
    try {
      // batch 1: 2,3 ~ history family 0 (dropped); 8 fresh family 2
      // (kept); 9 ~ 8 within the batch (dropped — larger id)
      mem.addData(2L, 3L, 8L, 9L)
      q.processAllAvailable()
      // batch 2: 10 ~ batch-1 survivor 8 (dropped — the index GREW);
      // 40 fresh family 10 (kept)
      mem.addData(10L, 40L)
      q.processAllAvailable()
    } finally q.stop()

    val lake = spark.read.parquet(outPath)
    assert(lake.select("media_id").as[Long].collect().toSet == Set(8L, 40L))
    // the hash index holds exactly history + survivors
    val idx = spark.read.parquet(indexPath)
    assert(idx.select("id").distinct().as[Long].collect().toSet ==
      Set(0L, 1L, 8L, 40L))

    // an UNDECODABLE payload passes through (published, NOT indexed)
    val corrupt = Seq((99L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    MediaStreams.processMediaBatch(corrupt, 7L, "media_id", imageHasher,
      indexPath, outPath, maxDistance = 3)
    assert(spark.read.parquet(outPath).filter(col("media_id") === 99L).count() == 1)
    assert(spark.read.parquet(indexPath).filter(col("id") === 99L).count() == 0)

    // foreachBatch RETRY idempotence: re-running a committed batch id
    // rewrites its own partitions, never duplicates
    MediaStreams.processMediaBatch(media(10L, 40L), 1L, "media_id",
      imageHasher, indexPath, outPath, maxDistance = 3)
    val lake2 = spark.read.parquet(outPath)
    assert(lake2.filter(col("media_id") === 40L).count() == 1)
    assert(lake2.select("media_id").as[Long].collect().toSet == Set(8L, 40L, 99L))
  }

  // deterministic id→hash hasher: exercises drop semantics without codec
  // arithmetic in the way (the pluggable-hasher contract makes this a
  // first-class usage, not a test backdoor)
  private def fixedHasher(hashes: Map[Long, Long]): (DataFrame, String) => DataFrame =
    (df, id) => {
      val m = typedLit(hashes)
      df.select(col(id).cast("long").as("id"),
        element_at(m, col(id).cast("long")).as("sh"))
    }

  test("media loop: same-id re-send is dropped; no transitive drop via unpublished item") {
    val indexPath = tmp("graft_midx2")
    val outPath = tmp("graft_mlake2")
    // H(100)=0; H(1)=7 (3 bits from history → dup); H(2)=63 (3 bits from
    // H(1), 6 bits from history → NOT a dup of anything published)
    val hasher = fixedHasher(Map(100L -> 0L, 1L -> 7L, 2L -> 63L))
    PathCommit.seed(
      hasher(Seq(100L).toDF("media_id"), "media_id"), indexPath)

    // batch 0: id 1 dropped as dup-of-history; id 2 is near id 1 but far
    // from everything PUBLISHED — it must survive (the old shape dropped
    // it transitively through the unpublished id 1)
    MediaStreams.processMediaBatch(
      Seq(1L, 2L).toDF("media_id").withColumn("payload", lit(Array[Byte]())),
      0L, "media_id", hasher, indexPath, outPath, maxDistance = 3)
    assert(spark.read.parquet(outPath).select("media_id").as[Long]
      .collect().toSet == Set(2L))
    assert(spark.read.parquet(indexPath).select("id").as[Long]
      .collect().toSet == Set(100L, 2L))

    // batch 1: the PUBLISHED id 100 is re-sent verbatim in a later batch —
    // it must be dropped against the index (same-id matches count), not
    // republished into a second lake row / second index entry
    MediaStreams.processMediaBatch(
      Seq(100L).toDF("media_id").withColumn("payload", lit(Array[Byte]())),
      1L, "media_id", hasher, indexPath, outPath, maxDistance = 3)
    val lake = spark.read.parquet(outPath)
    assert(lake.filter(col("media_id") === 100L).count() == 0)
    assert(spark.read.parquet(indexPath).filter(col("id") === 100L).count() == 1)
  }

  // deterministic id → per-frame-hash hasher for the video loop (the
  // pluggable-frameHasher contract); ids absent from the map yield no
  // decodable frames (the corrupt-clip shape)
  private def fixedFrameHasher(m: Map[Long, Seq[Long]]): (DataFrame, String) => DataFrame =
    (df, id) => df.select(col(id).cast("long").as("id"))
      .select(col("id"), posexplode_outer(element_at(typedLit(m), col("id"))))
      .toDF("id", "frame_idx", "sh")

  test("video loop: fraction verdict vs history and batch, re-send drop, corrupt passthrough") {
    val indexPath = tmp("graft_vidx")
    val outPath = tmp("graft_vlake")
    val A = Seq(0L, 0xF0F0L, 0x0F0F0F0FL, 0x5555AAAAL) // published clip 100
    def m(xs: Long*) = xs.toSeq
    val hasher = fixedFrameHasher(Map(
      100L -> A,
      // 3/4 frames within hamming 3 of clip 100 → dup of history
      1L -> m(A(0) ^ 1, A(1) ^ 1, A(2), A(3) ^ 0xFF),
      // only 1/4 near clip 100 → survives the history probe
      2L -> m(A(0), A(1) ^ 0xFF, A(2) ^ 0xFF0, A(3) ^ 0xFF00),
      // 3/4 aligned-near clip 2 (and only 1/4 near history) → in-batch dup
      3L -> m(A(0) ^ 2, A(1) ^ 0xFF, A(2) ^ 0xFF0, A(3) ^ 0xF0F0F0),
      // 4/4 near the PUBLISHED clip 2 (index grew) → dropped in batch 1
      50L -> m(A(0) ^ 1, A(1) ^ 0xFF ^ 1, A(2) ^ 0xFF0 ^ 1, A(3) ^ 0xFF00 ^ 1),
      // unrelated everywhere → published
      60L -> m(0x123456789AL, 0x23456789ABL, 0x3456789ABCL, 0x456789ABCDL)))
    PathCommit.seed(
      hasher(Seq(100L).toDF("media_id"), "media_id"), indexPath)

    def clips(ids: Long*) =
      ids.toDF("media_id").withColumn("payload", lit(Array[Byte]()))
    MediaStreams.processVideoBatch(clips(1L, 2L, 3L), 0L, "media_id",
      hasher, indexPath, outPath, maxDistance = 3, minMatchFrac = 0.5)
    assert(spark.read.parquet(outPath).select("media_id").as[Long]
      .collect().toSet == Set(2L))
    assert(spark.read.parquet(indexPath).select("id").distinct().as[Long]
      .collect().toSet == Set(100L, 2L))
    // clip 2's index rows are its FRAMES (8 bytes per sampled frame)
    assert(spark.read.parquet(indexPath).filter(col("id") === 2L).count() == 4)

    // batch 1: 50 ~ published 2 (dropped), 100 re-sent (matches itself
    // frame-for-frame → dropped), 60 fresh (kept), 999 corrupt (no
    // decodable frames → published, NOT indexed)
    MediaStreams.processVideoBatch(clips(50L, 100L, 60L, 999L), 1L,
      "media_id", hasher, indexPath, outPath, maxDistance = 3,
      minMatchFrac = 0.5)
    val lake = spark.read.parquet(outPath)
    assert(lake.select("media_id").as[Long].collect().toSet == Set(2L, 60L, 999L))
    val idx = spark.read.parquet(indexPath)
    assert(idx.select("id").distinct().as[Long].collect().toSet ==
      Set(100L, 2L, 60L))

    // retry of committed batch 1 rewrites its own partitions, no dupes
    MediaStreams.processVideoBatch(clips(50L, 100L, 60L, 999L), 1L,
      "media_id", hasher, indexPath, outPath, maxDistance = 3,
      minMatchFrac = 0.5)
    assert(spark.read.parquet(outPath).select("media_id").as[Long]
      .collect().toSet == Set(2L, 60L, 999L))
    assert(spark.read.parquet(outPath).count() == 3)
  }
}
