package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Pins the content-defined-chunking contract the ExtQueries comment
  * promises: null/empty/short-blob behavior, minSize/maxSize boundary
  * forcing, chunk-cover invariants, and the defining CDC property — a
  * byte insert shifts chunking LOCALLY (chunks after the re-sync point
  * keep their content hashes; a fixed-block splitter would rewrite every
  * downstream block).
  */
class CdcChunksSpec extends SparkSpec {
  import spark.implicits._

  private def chunksOf(b: Array[Byte], minSize: Int, maskBits: Int,
                       maxSize: Int): Seq[(Long, Long, Long)] =
    Seq(Tuple1(b)).toDF("payload")
      .select(explode(CdcChunks.column(col("payload"), minSize, maskBits, maxSize)).as("c"))
      .select("c.offset", "c.length", "c.hash")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)

  private def detBytes(n: Int, seed: Long = 7L): Array[Byte] =
    Array.tabulate(n)(i => (CdcChunks.splitmix64(seed * 1000003L + i) & 0xff).toByte)

  test("null blob yields no rows through cdcChunkTable; empty blob yields empty array") {
    val df = Seq((1L, detBytes(100)), (2L, null.asInstanceOf[Array[Byte]]),
        (3L, Array.empty[Byte]))
      .toDF("id", "payload")
    // expression level: null in -> null out; empty in -> empty array
    val arr = df.select(col("id"),
        CdcChunks.column(col("payload"), 8, 4, 64).as("c"))
      .orderBy("id").collect()
    assert(!arr(0).isNullAt(1) && arr(0).getSeq[Any](1).nonEmpty)
    assert(arr(1).isNullAt(1))
    assert(!arr(2).isNullAt(1) && arr(2).getSeq[Any](1).isEmpty)
    // table level: explode drops both the null and the empty-array rows
    val t = Dedup.cdcChunkTable(df, "id", "payload", minSize = 8,
      maskBits = 4, maxSize = 64)
    assert(t.select("id").distinct().as[Long].collect().toSet == Set(1L))
  }

  test("short blob (< minSize) is exactly one chunk covering the whole blob") {
    val b = detBytes(5)
    val cs = chunksOf(b, minSize = 8, maskBits = 4, maxSize = 64)
    assert(cs == Seq((0L, 5L, CdcChunks.fnv1a64(b, 0, 5))))
  }

  test("chunks tile the blob exactly: contiguous, no gaps, lengths in [1, maxSize]") {
    val b = detBytes(5000, seed = 3L)
    val cs = chunksOf(b, minSize = 8, maskBits = 4, maxSize = 64)
    assert(cs.head._1 == 0L)
    cs.sliding(2).foreach {
      case Seq((o1, l1, _), (o2, _, _)) => assert(o1 + l1 == o2)
      case _ =>
    }
    assert(cs.map(_._2).sum == b.length)
    // every non-final chunk respects minSize; all chunks respect maxSize
    cs.init.foreach { case (_, l, _) => assert(l >= 8L) }
    cs.foreach { case (_, l, _) => assert(l >= 1L && l <= 64L) }
    // hashes match an independent FNV recomputation over the claimed ranges
    cs.foreach { case (o, l, h) =>
      assert(h == CdcChunks.fnv1a64(b, o.toInt, (o + l).toInt))
    }
  }

  test("maxSize forces a boundary on boundary-free content") {
    // constant bytes whose gear hash never lands on the mask: with
    // maskBits=48 a content boundary is (effectively) impossible, so
    // every chunk must be exactly maxSize except the tail
    val b = Array.fill[Byte](1000)(42)
    val cs = chunksOf(b, minSize = 8, maskBits = 48, maxSize = 64)
    assert(cs.init.forall(_._2 == 64L))
    assert(cs.last._2 == (1000L % 64L))
  }

  test("minSize suppresses early boundaries") {
    // with maskBits=1 half of all positions would cut; minSize must push
    // every cut (except the final tail) to at least minSize
    val b = detBytes(2000, seed = 11L)
    val cs = chunksOf(b, minSize = 32, maskBits = 1, maxSize = 512)
    cs.init.foreach { case (_, l, _) => assert(l >= 32L) }
  }

  test("insert-shift locality: chunks re-sync after a byte insert") {
    val base = detBytes(8000, seed = 5L)
    val ins = (base.take(3000) :+ 77.toByte) ++ base.drop(3000)
    val h0 = chunksOf(base, 16, 5, 256).map(_._3)
    val h1 = chunksOf(ins, 16, 5, 256).map(_._3)
    // the defining CDC property: all chunks strictly before the insert
    // point are untouched, and the hash streams re-sync shortly after —
    // most content hashes are SHARED between the two versions
    val shared = h0.toSet.intersect(h1.toSet).size
    assert(shared >= (h0.size * 3) / 4,
      s"expected >=75% shared chunk hashes after a 1-byte insert, got " +
        s"$shared of ${h0.size}")
    // prefix before the insert is bit-identical
    val c0 = chunksOf(base, 16, 5, 256)
    val c1 = chunksOf(ins, 16, 5, 256)
    val prefix0 = c0.takeWhile { case (o, l, _) => o + l <= 3000 }
    assert(prefix0.nonEmpty && c1.startsWith(prefix0))
  }

  test("cdcDedupStats: logical vs stored bytes under (hash, length) dedup") {
    // two ids share an identical payload, a third differs: stored bytes
    // must count each distinct chunk once, logical bytes every copy
    val shared = detBytes(1500, seed = 9L)
    val other = detBytes(1500, seed = 10L)
    val df = Seq((1L, shared), (2L, shared), (3L, other)).toDF("id", "payload")
    val chunks = Dedup.cdcChunkTable(df, "id", "payload", minSize = 16,
      maskBits = 5, maxSize = 256)
    val s = Dedup.cdcDedupStats(chunks).head()
    val logical = s.getAs[Long]("logical_bytes")
    val stored = s.getAs[Long]("stored_bytes")
    assert(logical == 3L * 1500L)
    // the duplicate id-2 payload dedups fully against id-1's chunks
    assert(stored <= 2L * 1500L)
    assert(s.getAs[Long]("saved_bytes") == logical - stored)
    assert(s.getAs[Long]("n_chunks") >= s.getAs[Long]("n_unique_chunks"))
  }

  test("incrementalCdcChunks: hit/first/dup labels, history scanned not shuffled, stats mirror") {
    val sharedA = detBytes(1200, seed = 21L) // in history AND in batch
    val sharedB = detBytes(1200, seed = 22L) // batch-internal duplicate
    val fresh = detBytes(1200, seed = 23L)
    val histDf = Seq((1L, sharedA), (2L, detBytes(1200, seed = 24L)))
      .toDF("id", "payload")
    val batchDf = Seq((10L, sharedA), (11L, sharedB), (12L, sharedB),
        (13L, fresh))
      .toDF("id", "payload")
    val index = Dedup.cdcChunkTable(histDf, "id", "payload",
      minSize = 16, maskBits = 5, maxSize = 256)
    val ann = Dedup.incrementalCdcChunks(batchDf, "id", "payload", index,
      minSize = 16, maskBits = 5, maxSize = 256)
    val rows = ann.as[(Long, Long, Long, Long, String)].collect()

    // id 10 re-sends history content: every chunk is a hit
    assert(rows.filter(_._1 == 10L).forall(_._5 == "hit"))
    // ids 11/12 share content unseen by history: 11's chunks are first,
    // 12's are dup (min (id, offset) wins)
    assert(rows.filter(_._1 == 11L).forall(_._5 == "first"))
    assert(rows.filter(_._1 == 12L).forall(_._5 == "dup"))
    // fresh content is all first
    assert(rows.filter(_._1 == 13L).forall(_._5 == "first"))
    // driver mirror of the full label set from independent chunkings
    val histKeys = Dedup.cdcChunkTable(histDf, "id", "payload", 16, 5, 256)
      .select("hash", "length").as[(Long, Long)].collect().toSet
    val batchChunks = Dedup.cdcChunkTable(batchDf, "id", "payload", 16, 5, 256)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val firstOf = batchChunks.groupBy(c => (c._4, c._3))
      .view.mapValues(cs => cs.map(c => (c._1, c._2)).min).toMap
    val mirror = batchChunks.map { case (id, off, len, h) =>
      val st = if (histKeys((h, len))) "hit"
        else if (firstOf((h, len)) == (id, off)) "first" else "dup"
      (id, off, len, h, st)
    }.toSet
    assert(rows.toSet == mirror)

    // the plan probes history with the BATCH side broadcast — no shuffle
    // of the index (the incrementalHammingPairs discipline)
    val plan = ann.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)

    // stats: one row, exact byte accounting, partitions sum to the batch
    val s = Dedup.cdcIngestStats(ann).head()
    assert(s.getAs[Long]("batch_chunks") ==
      s.getAs[Long]("hit_chunks") + s.getAs[Long]("dup_chunks") +
        s.getAs[Long]("stored_chunks"))
    assert(s.getAs[Long]("batch_bytes") ==
      s.getAs[Long]("hit_bytes") + s.getAs[Long]("dup_bytes") +
        s.getAs[Long]("stored_bytes"))
    assert(s.getAs[Long]("batch_bytes") == 4L * 1200L)
    assert(s.getAs[Long]("stored_chunks") > 0 && s.getAs[Long]("hit_chunks") > 0
      && s.getAs[Long]("dup_chunks") > 0)
  }

  test("parameter validation fails loud") {
    intercept[IllegalArgumentException] {
      CdcChunks(org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte](1)), 0, 4, 64)
    }
    intercept[IllegalArgumentException] {
      CdcChunks(org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte](1)), 8, 0, 64)
    }
    intercept[IllegalArgumentException] {
      CdcChunks(org.apache.spark.sql.catalyst.expressions.Literal(Array[Byte](1)), 8, 4, 4)
    }
  }
}
