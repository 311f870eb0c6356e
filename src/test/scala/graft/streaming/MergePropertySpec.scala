package graft.streaming

import graft.SparkSpec
import graft.operators.Lake
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based differential test for the CDC merge paths: random
  * changelog batches (key collisions, version ties broken by the LWW
  * tie rule, deletes, late arrivals, empty batches, all-delete first
  * batches) folded through (a) the flat atomic-swap merge, (b) the
  * partitioned copy-on-write merge, and (c) one-shot batch
  * `Lake.latestSnapshot` over the whole log — all three must land on the
  * identical live state. The two merges' change feeds must be equal, and
  * replaying either in batch order must rebuild that live state.
  */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  // (key, value, version, delete) — tiny key space forces collisions,
  // tiny version space forces cross-batch late arrivals and ties
  private val genRow: Gen[(String, Long, Long, Boolean)] = for {
    k <- Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    v <- Gen.choose(0L, 99L)
    ver <- Gen.choose(1L, 6L)
    del <- Gen.frequency(4 -> false, 1 -> true)
  } yield (k, v, ver, del)

  private val genBatches: Gen[List[List[(String, Long, Long, Boolean)]]] = for {
    nb <- Gen.choose(1, 4)
    bs <- Gen.listOfN(nb, Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, genRow)))
    allDeleteFirst <- Gen.frequency(4 -> false, 1 -> true)
  } yield if (allDeleteFirst) bs.head.map(_.copy(_4 = true)) :: bs.tail else bs

  test("flat merge == partitioned merge == one-shot latestSnapshot, any log") {
    val prop = Prop.forAll(genBatches) { batches =>
      val root = java.nio.file.Files.createTempDirectory("graft_mergeprop").toString
      val part = Some(("kp", substring(col("k"), 1, 1)))
      batches.zipWithIndex.foreach { case (b, id) =>
        val df = b.toDF("k", "v", "ver", "del")
        ChangeStreams.mergeBatch(df, Seq("k"), Seq("ver", "v"), col("del"),
          s"$root/flat", changeFeedPath = Some(s"$root/flatfeed"), batchId = id.toLong)
        ChangeStreams.mergeBatch(df, Seq("k"), Seq("ver", "v"), col("del"),
          s"$root/part", changeFeedPath = Some(s"$root/partfeed"), batchId = id.toLong,
          snapshotPartition = part)
      }
      def live(p: String, pc: Option[String]) =
        if (!new java.io.File(p).exists()) Set.empty[(String, Long, Long)]
        else ChangeStreams.readSnapshot(spark, p, pc)
          .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
      val flat = live(s"$root/flat", None)
      val parted = live(s"$root/part", Some("kp"))
      val all = batches.flatten
      val oneShot =
        if (all.isEmpty) Set.empty[(String, Long, Long)]
        else Lake.latestSnapshot(all.toDF("k", "v", "ver", "del"),
            Seq("k"), Seq(col("ver"), col("v")), isDelete = col("del"))
          .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
      // a batch that changes nothing (an empty or all-delete first batch,
      // late losers only) leaves no feed partition
      def feedRows(p: String) = graft.operators.PathCommit.committed(spark, p)
        .fold(Set.empty[org.apache.spark.sql.Row]) {
          _.select("__batch_id", "_op", "k", "v", "ver", "_before").collect().toSet
        }
      def partitions(p: String) =
        if (!new java.io.File(p).exists()) Set.empty[Int]
        else graft.operators.PathCommit.batchDirs(
          org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
          new org.apache.hadoop.fs.Path(p)).map(_._2.toInt).toSet
      val flatFeed = feedRows(s"$root/flatfeed")
      // replay in batch order: insert/update put the row, delete removes the key
      val replayed = flatFeed.toSeq.sortBy(_.getInt(0))
        .foldLeft(Map.empty[String, (Long, Long)]) { (m, r) =>
          if (r.getString(1) == "delete") m - r.getString(2)
          else m + (r.getString(2) -> ((r.getLong(3), r.getLong(4))))
        }.map { case (k, (v, ver)) => (k, v, ver) }.toSet
      val fed = flatFeed.map(_.getInt(0))
      flat == parted && (all.isEmpty || flat == oneShot) &&
        flatFeed == feedRows(s"$root/partfeed") && replayed == flat &&
        partitions(s"$root/flatfeed") == fed && partitions(s"$root/partfeed") == fed
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
