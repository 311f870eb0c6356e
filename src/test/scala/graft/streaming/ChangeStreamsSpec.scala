package graft.streaming

import graft.SparkSpec
import graft.operators.Lake
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ChangeStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  // changelog rows: (key, value, version, op)
  private val b1 = Seq(
    ("a", 10L, 1L, "upsert"),
    ("a", 11L, 2L, "upsert"),   // in-batch LWW: v2 wins
    ("b", 20L, 1L, "upsert"),
    ("c", 30L, 1L, "upsert"))
  private val b2 = Seq(
    ("b", 0L, 3L, "delete"),    // tombstone for b
    ("c", 31L, 2L, "upsert"),   // cross-batch update
    ("d", 40L, 1L, "upsert"))
  private val b3 = Seq(
    ("b", 22L, 2L, "upsert"),   // LATE, older than b's tombstone: stays dead
    ("a", 9L, 1L, "upsert"))    // late, older than a's v2: ignored

  test("cdcSnapshotStream: LWW across batches, tombstones beat late rows") {
    implicit val sqlCtx = spark.sqlContext
    val snapPath = tmp("graft_snap") + "/snap"
    val mem = MemoryStream[(String, Long, Long, String)]
    val stream = mem.toDF().toDF("k", "v", "ver", "op")
    val q = ChangeStreams.cdcSnapshotStream(stream, Seq("k"), Seq("ver"),
      isDelete = col("op") === "delete", snapPath).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val got = ChangeStreams.readSnapshot(spark, snapPath)
      .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 11L, 2L), ("c", 31L, 2L), ("d", 40L, 1L)))
    // the tombstone row itself persists in the raw snapshot
    val raw = spark.read.parquet(snapPath)
    assert(raw.filter(col("__del")).select("k").as[String].collect().toSeq
      == Seq("b"))
  }

  test("change feed: per-batch net effect on the live view, silent when nothing changes") {
    val root = tmp("graft_snap_cdf")
    val snapPath = root + "/snap"
    val feedPath = root + "/feed"
    for ((b, id) <- Seq(b1, b2, b3).zipWithIndex) {
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", snapPath,
        changeFeedPath = Some(feedPath), batchId = id.toLong)
    }
    val feed = spark.read.parquet(feedPath)
      .select("__batch_id", "_op", "k", "v", "ver")
      .as[(Long, String, String, Long, Long)].collect().toSet
    assert(feed == Set(
      // batch 0 bootstraps: every surviving key is an insert
      (0L, "insert", "a", 11L, 2L),
      (0L, "insert", "b", 20L, 1L),
      (0L, "insert", "c", 30L, 1L),
      // batch 1: b tombstoned, c updated, d inserted
      (1L, "delete", "b", 20L, 1L),
      (1L, "update", "c", 31L, 2L),
      (1L, "insert", "d", 40L, 1L)
      // batch 2 (late losers only) appends NOTHING
    ))
    // an INCREMENTAL AGGREGATE maintained from the feed alone equals the
    // direct aggregate over the final snapshot: apply +v on insert,
    // +v − before.v on update, −before.v on delete — retraction is
    // exactly what the preimage column exists for
    val delta = spark.read.parquet(feedPath)
      .select(
        when(col("_op") === "insert", col("v"))
          .when(col("_op") === "update", col("v") - col("_before.v"))
          .otherwise(-col("_before.v")).as("d"))
      .agg(sum(col("d"))).as[Long].head()
    val direct = ChangeStreams.readSnapshot(spark, snapPath)
      .agg(sum(col("v"))).as[Long].head()
    assert(delta == direct)
  }

  test("applyFeedToSums: batch-by-batch fold == direct aggregate; empty groups drop") {
    val root = tmp("graft_ivm")
    val snapPath = root + "/snap"
    val feedPath = root + "/feed"
    for ((b, id) <- Seq(b1, b2, b3).zipWithIndex) {
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", snapPath,
        changeFeedPath = Some(feedPath), batchId = id.toLong)
    }
    // group by first letter class: 'a'..'c' vs 'd' — use the key itself
    val feed = spark.read.parquet(feedPath)
    val empty = Seq.empty[(String, Long, Long)].toDF("k", "sum_v", "n")
    val folded = (0L until 3L).foldLeft(empty) { (agg, id) =>
      ChangeStreams.applyFeedToSums(agg,
        feed.filter(col("__batch_id") === id), Seq("k"), "v")
    }.as[(String, Long, Long)].collect().toSet
    val direct = ChangeStreams.readSnapshot(spark, snapPath)
      .groupBy("k").agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(folded == direct && folded.nonEmpty)
    // the tombstoned key 'b' is GONE from the maintained table, not a
    // zero-count residue
    assert(!folded.exists(_._1 == "b"))
  }

  test("incremental merge == batch latestSnapshot over the whole log") {
    val snapPath = tmp("graft_snap2") + "/snap"
    for (b <- Seq(b1, b2, b3)) {
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", snapPath)
    }
    val incremental = ChangeStreams.readSnapshot(spark, snapPath)
      .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
    val batch = Lake.latestSnapshot((b1 ++ b2 ++ b3).toDF("k", "v", "ver", "op"),
        Seq("k"), Seq(col("ver")), isDelete = col("op") === "delete")
      .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
    assert(incremental == batch)
  }

  // one merge of `b` as micro-batch `id` into `<root>/snap`, with its
  // change feed at `<root>/feed`
  private def mergeWithFeed(b: Seq[(String, Long, Long, String)], root: String,
                            id: Long, part: Option[(String, Column)] = None): Unit =
    ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
      Seq("ver"), col("op") === "delete", s"$root/snap",
      changeFeedPath = Some(s"$root/feed"), batchId = id, snapshotPartition = part)

  // the raw snapshot, tombstones included
  private def rawSnapshot(root: String) = spark.read.parquet(s"$root/snap")
    .select("k", "v", "ver", "__del").as[(String, Long, Long, Boolean)]
    .collect().toSet

  private def feedRows(root: String) = spark.read.parquet(s"$root/feed")
    .select("__batch_id", "_op", "k", "v", "ver", "_before").collect().toSet

  test("a retried batch completes a crashed snapshot swap instead of losing the snapshot") {
    val clean = tmp("graft_snap_clean")
    mergeWithFeed(b1, clean, 0L); mergeWithFeed(b2, clean, 1L)
    assert(ChangeStreams.readSnapshot(spark, s"$clean/snap").count() == 3L)

    // batch 1's swap, stopped at each point after its commit marker: the
    // feed holds batch 1's partition (it is written before the marker),
    // the stage holds what batch 1 merges (the clean run's final
    // snapshot), then (A) nothing renamed, (B) the prior snapshot moved
    // aside and nothing at the path, (C) the stage promoted, old and
    // marker left
    for (crashPoint <- Seq("A", "B", "C")) {
      val root = tmp("graft_snap_crash")
      val snap = s"$root/snap"
      mergeWithFeed(b1, root, 0L)
      graft.operators.PathCommit.writeBatch(
        spark.read.parquet(s"$clean/feed").filter(col("__batch_id") === 1)
          .drop("__batch_id"), 1L, s"$root/feed", rebalance = false)
      val fs = new org.apache.hadoop.fs.Path(snap)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def p(suffix: String) = new org.apache.hadoop.fs.Path(snap + suffix)
      spark.read.parquet(s"$clean/snap").write.parquet(snap + "__merge_tmp")
      fs.create(p("__merge_marker"), true).close()
      if (crashPoint != "A") assert(fs.rename(p(""), p("__merge_old")))
      if (crashPoint == "C") assert(fs.rename(p("__merge_tmp"), p("")))

      mergeWithFeed(b2, root, 1L) // the foreachBatch retry
      assert(rawSnapshot(root) == rawSnapshot(clean), s"crash point $crashPoint")
      assert(feedRows(root) == feedRows(clean), s"crash point $crashPoint")
      Seq("__merge_tmp", "__merge_old", "__merge_marker").foreach { s =>
        assert(!fs.exists(p(s)), s"crash point $crashPoint left $s")
      }
    }
  }

  test("a batch that fails at its feed write retries to the uncrashed snapshot and feed") {
    val clean = tmp("graft_feedcrash_clean")
    mergeWithFeed(b1, clean, 0L); mergeWithFeed(b2, clean, 1L)
    for (layout <- Seq("flat", "partitioned")) {
      val root = tmp("graft_feedcrash")
      def merge(b: Seq[(String, Long, Long, String)], id: Long): Unit =
        mergeWithFeed(b, root, id, Option.when(layout == "partitioned")(byFirstChar))
      merge(b1, 0L)
      // batch 1's first attempt: a plain file stands where the feed goes,
      // so its feed write fails
      val feed = java.nio.file.Paths.get(root, "feed")
      val aside = java.nio.file.Paths.get(root, "feed_aside")
      java.nio.file.Files.move(feed, aside)
      java.nio.file.Files.createFile(feed)
      intercept[Exception](merge(b2, 1L))
      java.nio.file.Files.delete(feed)
      java.nio.file.Files.move(aside, feed)

      merge(b2, 1L) // the foreachBatch retry
      assert(rawSnapshot(root) == rawSnapshot(clean), layout)
      assert(feedRows(root) == feedRows(clean), layout)
    }
  }

  test("a change feed without a batch id is rejected") {
    val root = tmp("graft_feed_noid")
    val e = intercept[IllegalArgumentException](mergeWithFeed(b1, root, -1L))
    assert(e.getMessage.contains("batchId"))
    assert(!new java.io.File(s"$root/snap").exists())
  }

  test("a feed slice read by __batch_id scans only that batch's partition") {
    val root = tmp("graft_feed_slice")
    val b4 = Seq(("e", 50L, 1L, "upsert"))
    for ((b, id) <- Seq(b1, b2, b4).zipWithIndex) mergeWithFeed(b, root, id.toLong)
    val dirs = new java.io.File(s"$root/feed").listFiles().map(_.getName)
      .filter(_.startsWith("__batch_id=")).toSet
    assert(dirs == Set("__batch_id=0", "__batch_id=1", "__batch_id=2"))
    val slice = spark.read.parquet(s"$root/feed").filter(col("__batch_id") === 1)
    val rows = slice.collect().map(r => (r.getAs[String]("_op"), r.getAs[String]("k")))
    assert(rows.toSet == Set(("delete", "b"), ("update", "c"), ("insert", "d")))
    val scan = (slice.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
    assert(scan.partitionFilters.nonEmpty)
    val sliceFiles = new java.io.File(s"$root/feed/__batch_id=1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numPartitions").value == 1L)
    assert(scan.metrics("numFiles").value == sliceFiles.toLong)
  }

  test("mergeBatch bootstraps from an absent snapshot") {
    val snapPath = tmp("graft_snap3") + "/snap"
    ChangeStreams.mergeBatch(b1.toDF("k", "v", "ver", "op"), Seq("k"),
      Seq("ver"), col("op") === "delete", snapPath)
    val got = ChangeStreams.readSnapshot(spark, snapPath)
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 11L, "b" -> 20L, "c" -> 30L))
  }

  // key's first char partitions the snapshot — a pure function of the key,
  // per the mergeBatch caller contract
  private val byFirstChar = ("kpart", substring(col("k"), 1, 1))

  test("partitioned merge == unpartitioned merge: snapshot, tombstones, feed") {
    val root = tmp("graft_snap_part")
    val (flatSnap, flatFeed) = (root + "/flat", root + "/flatfeed")
    val (partSnap, partFeed) = (root + "/part", root + "/partfeed")
    for ((b, id) <- Seq(b1, b2, b3).zipWithIndex) {
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", flatSnap,
        changeFeedPath = Some(flatFeed), batchId = id.toLong)
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", partSnap,
        changeFeedPath = Some(partFeed), batchId = id.toLong,
        snapshotPartition = Some(byFirstChar))
    }
    def liveSet(p: String) =
      ChangeStreams.readSnapshot(spark, p, partitionCol = Some("kpart"))
        .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
    assert(liveSet(partSnap) == liveSet(flatSnap))
    // tombstone persists inside its partition
    val raw = spark.read.parquet(partSnap)
    assert(raw.filter(col("__del")).select("k").as[String].collect().toSeq
      == Seq("b"))
    def feedSet(p: String) = spark.read.parquet(p)
      .select("__batch_id", "_op", "k", "v", "ver")
      .as[(Long, String, String, Long, Long)].collect().toSet
    assert(feedSet(partFeed) == feedSet(flatFeed) && feedSet(partFeed).nonEmpty)
  }

  test("partitioned merge rewrites ONLY the touched partitions") {
    val snapPath = tmp("graft_snap_prune") + "/snap"
    ChangeStreams.mergeBatch(b1.toDF("k", "v", "ver", "op"), Seq("k"),
      Seq("ver"), col("op") === "delete", snapPath,
      snapshotPartition = Some(byFirstChar))
    def partFiles(part: String): Set[(String, Long)] = {
      val dir = new java.io.File(s"$snapPath/kpart=$part")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val (a0, b0, c0) = (partFiles("a"), partFiles("b"), partFiles("c"))
    assert(a0.nonEmpty && b0.nonEmpty && c0.nonEmpty)
    // batch touching only key "a": partitions b and c must be byte-for-
    // byte untouched (same files, same mtimes); a is rewritten
    ChangeStreams.mergeBatch(
      Seq(("a", 99L, 5L, "upsert")).toDF("k", "v", "ver", "op"), Seq("k"),
      Seq("ver"), col("op") === "delete", snapPath,
      snapshotPartition = Some(byFirstChar))
    assert(partFiles("b") == b0 && partFiles("c") == c0)
    assert(partFiles("a") != a0)
    val got = ChangeStreams.readSnapshot(spark, snapPath, Some("kpart"))
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 99L, "b" -> 20L, "c" -> 30L))
  }

  test("partition values that defeat type inference round-trip exactly") {
    // "00" infers back as int 0 under partition-column type inference, so
    // a path-only string comparison would miss the directory while dynamic
    // overwrite still replaces it — dropping the partition's other keys.
    // The merge reads with an explicit string schema, so "00" stays "00".
    val snapPath = tmp("graft_snap_infer") + "/snap"
    val part = ("kpart",
      when(col("k").startsWith("n"), lit("00"))
        .otherwise(substring(col("k"), 1, 1)))
    ChangeStreams.mergeBatch(
      Seq(("n1", 10L, 1L, "upsert"), ("n2", 11L, 1L, "upsert"),
        ("a1", 20L, 1L, "upsert"), ("b1", 30L, 1L, "upsert"),
        ("c1", 40L, 1L, "upsert"), ("01", 50L, 1L, "upsert"))
        .toDF("k", "v", "ver", "op"),
      Seq("k"), Seq("ver"), col("op") === "delete", snapPath,
      snapshotPartition = Some(part))
    assert(new java.io.File(s"$snapPath/kpart=00").exists())
    // touch ONLY partition "00" (1 of 5 — pruned path, not degenerate):
    // n2's prior version must be read into the merge and survive
    ChangeStreams.mergeBatch(
      Seq(("n1", 99L, 2L, "upsert")).toDF("k", "v", "ver", "op"),
      Seq("k"), Seq("ver"), col("op") === "delete", snapPath,
      snapshotPartition = Some(part))
    val got = ChangeStreams.readSnapshot(spark, snapPath, Some("kpart"))
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got == Map("n1" -> 99L, "n2" -> 11L, "a1" -> 20L,
      "b1" -> 30L, "c1" -> 40L, "01" -> 50L))
  }

  test("null and empty partition values route through the default partition") {
    val snapPath = tmp("graft_snap_null") + "/snap"
    val part = ("kpart",
      when(col("k").startsWith("z"), lit(null).cast("string"))
        .when(col("k").startsWith("e"), lit(""))
        .otherwise(substring(col("k"), 1, 1)))
    ChangeStreams.mergeBatch(
      Seq(("zed", 1L, 1L, "upsert"), ("emp", 2L, 1L, "upsert"),
        ("a1", 3L, 1L, "upsert"), ("b1", 4L, 1L, "upsert"),
        ("c1", 5L, 1L, "upsert")).toDF("k", "v", "ver", "op"),
      Seq("k"), Seq("ver"), col("op") === "delete", snapPath,
      snapshotPartition = Some(part))
    // update a NULL-partition key (1 of 4 dirs — pruned path): the default
    // partition's OTHER resident (empty-string-valued "emp") must be read
    // into the merge and survive the directory rewrite
    ChangeStreams.mergeBatch(
      Seq(("zed", 9L, 2L, "upsert")).toDF("k", "v", "ver", "op"),
      Seq("k"), Seq("ver"), col("op") === "delete", snapPath,
      snapshotPartition = Some(part))
    val got = ChangeStreams.readSnapshot(spark, snapPath, Some("kpart"))
      .select("k", "v").as[(String, Long)].collect().toMap
    assert(got == Map("zed" -> 9L, "emp" -> 2L, "a1" -> 3L,
      "b1" -> 4L, "c1" -> 5L))
  }

  test("degenerate batch (touches >= half the partitions) merges the full table, same result") {
    val root = tmp("graft_snap_degen")
    val (flatSnap, partSnap) = (root + "/flat", root + "/part")
    for (b <- Seq(b1, b2 /* touches 3 of 3 partitions -> degenerate */, b3)) {
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", flatSnap)
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", partSnap,
        snapshotPartition = Some(byFirstChar))
    }
    def liveSet(p: String, pc: Option[String]) =
      ChangeStreams.readSnapshot(spark, p, pc)
        .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
    assert(liveSet(partSnap, Some("kpart")) == liveSet(flatSnap, None))
    // the layout is still partitioned afterwards (later merges depend on it)
    assert(new java.io.File(partSnap).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("kpart=")))
  }

  test("partitioned merge retry is idempotent") {
    val snapPath = tmp("graft_snap_retry") + "/snap"
    for (b <- Seq(b1, b2, b2 /* replay */, b3)) {
      ChangeStreams.mergeBatch(b.toDF("k", "v", "ver", "op"), Seq("k"),
        Seq("ver"), col("op") === "delete", snapPath,
        snapshotPartition = Some(byFirstChar))
    }
    val got = ChangeStreams.readSnapshot(spark, snapPath, Some("kpart"))
      .select("k", "v", "ver").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 11L, 2L), ("c", 31L, 2L), ("d", 40L, 1L)))
  }
}
