package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFilesPerDir(root: String): Map[String, Int] = {
    val dirs = Files.list(Paths.get(root)).iterator()
    var m = Map.empty[String, Int]
    dirs.forEachRemaining { d =>
      if (Files.isDirectory(d) && d.getFileName.toString.contains("=")) {
        val n = Files.list(d).iterator()
        var c = 0
        n.forEachRemaining(f => if (f.toString.endsWith(".parquet")) c += 1)
        m += d.getFileName.toString -> c
      }
    }
    m
  }

  test("writePartitioned emits one file per partition dir (vs task-explosion default)") {
    val df = (1 to 4000).map(i => (i.toLong, s"2024-01-${i % 5 + 10}")).toDF("id", "dt")
      .repartition(16) // simulate many upstream tasks
    val controlled = Files.createTempDirectory("lake_ctl").toString
    val naive = Files.createTempDirectory("lake_naive").toString
    Lake.writePartitioned(df, controlled, Seq("dt"))
    df.write.mode("overwrite").partitionBy("dt").parquet(naive)
    val ctl = parquetFilesPerDir(controlled)
    val nv = parquetFilesPerDir(naive)
    assert(ctl.size == 5 && ctl.values.forall(_ == 1), ctl.toString)
    assert(nv.values.sum > ctl.values.sum, s"naive=$nv controlled=$ctl")
    // content survives the rerouting
    assert(spark.read.parquet(controlled).count() == 4000)
  }

  test("writeOrderedShards: contiguous global ranges, sorted within each shard") {
    val df = (0L until 5000L).map(i => (i, (i * 2654435761L) % 100000L))
      .toDF("id", "ord").repartition(11)
    val out = Files.createTempDirectory("lake_shards").toString
    val manifest = Lake.writeOrderedShards(df, out, Seq(col("ord"), col("id")), 8)
      .as[(Long, Long)].collect().toSeq
    assert(manifest.map(_._2).sum == 5000L)
    assert(manifest.size == 8 && manifest.map(_._1) == manifest.map(_._1).sorted)
    val back = spark.read.parquet(out)
    // cross-shard: shard i's max key < shard i+1's min key
    val ranges = back.groupBy("shard")
      .agg(min(col("ord")).as("lo"), max(col("ord")).as("hi"))
      .orderBy("shard").as[(Long, Long, Long)].collect()
    ranges.sliding(2).foreach { case Array(a, b) => assert(a._3 <= b._2) case _ => }
    // within-shard: file row order is the sort order
    val shard0 = spark.read.parquet(s"$out/shard=0").select("ord").as[Long].collect().toSeq
    assert(shard0 == shard0.sorted)
    assert(back.count() == 5000)
  }

  test("writeShuffledShards: seeded permutation is reproducible, seed-sensitive, complete") {
    val df = (0L until 3000L).map(i => (i, s"doc$i")).toDF("id", "text")
    def export(seed: Long): (Seq[(Long, Long)], Seq[Long]) = {
      val out = Files.createTempDirectory("lake_shuffle").toString
      Lake.writeShuffledShards(df, out, "id", seed, numShards = 8)
      val back = spark.read.parquet(out)
      val assign = back.select("id", "shard").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
      // the global order a trainer sees: shard asc, then in-file order
      val order = (0L until 8L).flatMap(sh =>
        spark.read.parquet(s"$out/shard=$sh").select("id").as[Long].collect())
      (assign, order)
    }
    val (a1, o1) = export(seed = 7L)
    val (a2, o2) = export(seed = 7L)
    val (_, o3) = export(seed = 8L)
    // reproducible: same seed -> identical shard assignment AND order
    assert(a1 == a2 && o1 == o2)
    // complete, no dup, no loss
    assert(o1.sorted == (0L until 3000L))
    // seed-sensitive: a different seed is a different permutation
    assert(o1 != o3)
    // actually shuffled: not the identity order
    assert(o1 != (0L until 3000L))
    // within-shard order follows the md5 key (the documented contract)
    val out = Files.createTempDirectory("lake_shuffle_k").toString
    Lake.writeShuffledShards(df, out, "id", 7L, numShards = 8)
    val s0 = spark.read.parquet(s"$out/shard=0")
      .select("__shuffle_key").as[String].collect().toSeq
    assert(s0 == s0.sorted && s0.nonEmpty)
  }

  test("writeJsonlShards: same range contract, JSONL round-trips content exactly") {
    val df = (0L until 2000L).map(i => (i, (i * 2654435761L) % 10000L,
      s"text $i with ünïcode"))
      .toDF("id", "ord", "text").repartition(7)
    val out = Files.createTempDirectory("lake_jsonl").toString
    val manifest = Lake.writeJsonlShards(df, out, Seq(col("ord"), col("id")), 4)
      .as[(Long, Long)].collect().toSeq
    assert(manifest.map(_._2).sum == 2000L && manifest.size == 4)
    // it is really JSONL: raw lines parse as JSON objects
    val aLine = spark.read.textFile(s"$out/shard=0").head()
    assert(aLine.startsWith("{") && aLine.contains("\"ord\""))
    // contiguous cross-shard ranges
    val back = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, ord BIGINT, text STRING, shard BIGINT"))
      .option("basePath", out).json(out)
    val ranges = back.groupBy("shard")
      .agg(min(col("ord")).as("lo"), max(col("ord")).as("hi"))
      .orderBy("shard").as[(Long, Long, Long)].collect()
    ranges.sliding(2).foreach { case Array(a, b) => assert(a._3 <= b._2) case _ => }
    // content round-trips exactly (unicode intact)
    assert(back.drop("shard").as[(Long, Long, String)].collect().toSet
      == df.as[(Long, Long, String)].collect().toSet)
  }

  test("writeJsonlShardsRanked: membership is rank arithmetic, reproducible across runs and layouts") {
    val df = (0L until 1000L).map(i => (i, s"t$i")).toDF("id", "text")
    def export(input: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val out = Files.createTempDirectory("lake_jsonlr").toString
      Lake.writeJsonlShardsRanked(input, out, Seq(col("id")), 4)
      spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, text STRING, shard BIGINT"))
        .option("basePath", out).json(out)
        .select("id", "shard").as[(Long, Long)].collect().toMap
    }
    val run1 = export(df.repartition(7))
    // membership IS the row_number arithmetic: shard = rank * S div n
    assert(run1 == (0L until 1000L).map(i => i -> i * 4 / 1000).toMap)
    // a second run from a DIFFERENT partition layout cuts identically —
    // the repartitionByRange writers can't promise this (run-seeded
    // boundary samples); the ranked writer's whole point is that it does
    val run2 = export(df.repartition(3).sortWithinPartitions(desc("text")))
    assert(run2 == run1)
    // manifest equals balanced contiguous quarters
    val out3 = Files.createTempDirectory("lake_jsonlr3").toString
    val manifest = Lake.writeJsonlShardsRanked(df, out3, Seq(col("id")), 4)
      .as[(Long, Long)].collect().toSeq
    assert(manifest == Seq((0L, 250L), (1L, 250L), (2L, 250L), (3L, 250L)))
    // append would overlap rank-shards from two exports under one path
    // and corrupt the manifest — refused loudly
    val err = intercept[IllegalArgumentException](
      Lake.writeJsonlShardsRanked(df, out3, Seq(col("id")), 4,
        mode = "append"))
    assert(err.getMessage.contains("overwrite"))
  }

  test("writeZOrdered clusters EVERY z dimension per file; a 1-dim sort does not") {
    // 2 independent uniform dims; 16 z-range files should each span ~1/4
    // of BOTH dims (4x4 Morton tiles), while an x-sorted layout leaves y
    // unclustered (full range in every file)
    val rng = new scala.util.Random(11)
    val df = (0 until 20000).map { _ =>
      (rng.nextInt(100000).toLong, rng.nextInt(100000).toLong)
    }.toDF("x", "y").repartition(8)
    def perFileSpans(path: String): Seq[(Double, Double)] = {
      val withFile = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("x") - min("x")).cast("double").as("xs"),
          (max("y") - min("y")).cast("double").as("ys"))
      withFile.select("xs", "ys").as[(Double, Double)].collect().toSeq
    }
    val zout = Files.createTempDirectory("lake_z").toString
    Lake.writeZOrdered(df, zout, Seq("x", "y"), bitsPerDim = 8, numFiles = 16)
    val zspans = perFileSpans(zout)
    assert(zspans.size == 16)
    // typical file spans ~1/4..1/2 of each dim; a FEW files legitimately
    // straddle a top-bit curve transition (the z jump between quadrants)
    // and span wide in one dim — so assert the mean plus a bounded
    // crosser count, not a universal max
    val meanX = zspans.map(_._1).sum / zspans.size
    val meanY = zspans.map(_._2).sum / zspans.size
    assert(meanX < 50000 && meanY < 50000, s"meanX=$meanX meanY=$meanY")
    assert(zspans.count(_._1 > 60000) <= 2 && zspans.count(_._2 > 60000) <= 2,
      zspans.toString)
    val xout = Files.createTempDirectory("lake_x").toString
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xout)
    val xspans = perFileSpans(xout)
    // the x-sort clusters x tightly but leaves y effectively unclustered
    assert(xspans.forall { case (_, ys) => ys > 80000 }, xspans.toString)
    // content survives the layout
    assert(spark.read.parquet(zout).count() == 20000)
    assert(spark.read.parquet(zout).agg(sum("x")).as[Long].head() ==
      df.agg(sum("x")).as[Long].head())
  }

  test("zOrderValue interleaves bits and clamps degenerate/edge values") {
    val df = Seq((0L, 0L), (255L, 255L), (255L, 0L), (128L, 128L))
      .toDF("x", "y")
    // range [0,255], 4 bits/dim -> bucket = v div 16 (almost: equal-width
    // over [0, 255+eps)); max value clamps to bucket 15
    val got = df.withColumn("z", Lake.zOrderValue(df, Seq("x", "y"), bitsPerDim = 4))
      .select("x", "y", "z").as[(Long, Long, Long)].collect()
      .map { case (x, y, z) => (x, y) -> z }.toMap
    def interleave(bx: Long, by: Long): Long =
      (0 until 4).map(i => (((bx >> i) & 1L) << (2 * i)) | (((by >> i) & 1L) << (2 * i + 1))).sum
    assert(got((0L, 0L)) == 0L)
    assert(got((255L, 255L)) == interleave(15, 15)) // clamped, not bucket 16
    assert(got((255L, 0L)) == interleave(15, 0))
    // a constant dimension degenerates to bucket 0 everywhere
    val const = Seq((1L, 7L), (2L, 7L)).toDF("x", "y")
    val zc = const.withColumn("z", Lake.zOrderValue(const, Seq("x", "y"), 4))
      .select("z").as[Long].collect().toSet
    assert(zc.forall(z => (0 until 4).forall(i => ((z >> (2 * i + 1)) & 1L) == 0L)))
  }

  test("quantile z buckets spread a heavy-tailed dimension; equal-width collapses") {
    // x ~ heavy-tailed: 95% in [0, 100], 5% up to 1e6
    val rng = new scala.util.Random(5)
    val df = (0 until 10000).map { _ =>
      val x = if (rng.nextInt(20) == 0) rng.nextInt(1000000).toLong
              else rng.nextInt(100).toLong
      (x, rng.nextInt(1000).toLong)
    }.toDF("x", "y")
    def xBucketCounts(quantile: Boolean): Map[Long, Long] = {
      // recover the x bucket from the z value: even bit positions
      val z = df.withColumn("z", Lake.zOrderValue(df, Seq("x", "y"), 4, quantile))
      z.withColumn("xb", (0 until 4).map(i =>
          shiftleft(shiftright(col("z"), 2 * i).bitwiseAND(lit(1L)), i))
          .reduce(_.bitwiseOR(_)))
        .groupBy("xb").count().as[(Long, Long)].collect().toMap
    }
    val ew = xBucketCounts(quantile = false)
    val qb = xBucketCounts(quantile = true)
    // equal-width: the 95% mass lands in bucket 0 -> x prunes nothing
    assert(ew(0L) > 9000, ew.toString)
    // quantile: all 16 buckets populated, none dominating
    assert(qb.size == 16 && qb.values.max < 2500, qb.toString)
  }

  test("index memos honor spark.graft.indexDir and distinguish layout params") {
    val root = Files.createTempDirectory("graft_idxroot").toString
    spark.conf.set(IndexRoot.ConfKey, root)
    try {
      val df = (1L to 64L).map(i => (i, i % 8, i % 5)).toDF("id", "x", "y")
      val key = s"lakespec_idxroot_${System.nanoTime}"
      val a = Lake.ensureZOrdered(df, key, Seq("x", "y"), bitsPerDim = 8, numFiles = 2)
      // artifact lands under the CONFIGURED root, not java.io.tmpdir
      val zorderDir = Paths.get(root, "zorder")
      assert(Files.isDirectory(zorderDir) && Files.list(zorderDir).count() == 1)
      // same cacheKey, different layout params => a DIFFERENT artifact
      // (the memo folds zCols/bits/numFiles into the digest)
      val b = Lake.ensureZOrdered(df, key, Seq("x", "y"), bitsPerDim = 4, numFiles = 1)
      assert(Files.list(zorderDir).count() == 2)
      assert(a.count() == 64 && b.count() == 64)
      assert(a.inputFiles.toSet != b.inputFiles.toSet)
    } finally spark.conf.unset(IndexRoot.ConfKey)
  }

  test("compact rewrites many small files into size-targeted few, content intact") {
    val out = Files.createTempDirectory("lake_compact").toString
    val df = (0L until 20000L).map(i => (i, s"payload for row $i"))
      .toDF("id", "payload")
    df.repartition(64).write.mode("overwrite").parquet(out) // 64 tiny files
    def parquetFiles(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    val before = parquetFiles(out)
    assert(before.length == 64)
    val totalBytes = before.map(_.length()).sum
    val n = Lake.compact(spark, out, targetFileBytes = totalBytes / 4 + 1)
    val after = parquetFiles(out)
    assert(n == 4 && after.length == 4, s"n=$n files=${after.length}")
    // no temp/backup remnants, content identical
    assert(!new java.io.File(out + "__compact_tmp").exists())
    assert(!new java.io.File(out + "__compact_old").exists())
    val back = spark.read.parquet(out)
    assert(back.count() == 20000 &&
      back.agg(sum("id")).as[Long].head() == (0L until 20000L).sum)
    // sortBy variant restores clustering: per-file id ranges disjoint
    Lake.compact(spark, out, targetFileBytes = totalBytes / 4 + 1,
      sortBy = Seq(col("id")))
    val ranges = spark.read.parquet(out)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .select("lo", "hi").as[(Long, Long)].collect().sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, ranges.mkString(","))
      case _ =>
    }
  }

  test("fileStats: per-leaf counts/bytes/small-file alert; compaction flattens it") {
    val out = Files.createTempDirectory("lake_stats").toString
    val df = (0L until 4000L).map(i => (i % 2, i, s"row $i"))
      .toDF("part", "id", "payload")
    df.repartition(8).write.mode("overwrite").partitionBy("part").parquet(out)
    val stats = Lake.fileStats(spark, out)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats.keySet == Set("part=0", "part=1"))
    // 8 writer tasks × 2 partitions = up to 16 files; every one tiny
    val s0 = stats("part=0")
    assert(s0._2 == 8L && s0._6 == 8L, s0.toString)           // all small
    assert(s0._3 >= s0._4 && s0._3 >= s0._5 && s0._4 <= s0._5) // bytes sane
    // flat (unpartitioned) layout reports the root as leaf ""
    val flat = Files.createTempDirectory("lake_stats_flat").toString
    df.drop("part").repartition(4).write.mode("overwrite").parquet(flat)
    val fstats = Lake.fileStats(spark, flat)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(fstats.map(_._1).toSeq == Seq("") && fstats.head._2 == 4L)
    // after compaction the alert clears: one file, n_small tracks size
    Lake.compact(spark, flat, targetFileBytes = 1L << 30)
    val after = Lake.fileStats(spark, flat, smallFileBytes = 1L)
      .as[(String, Long, Long, Long, Long, Long)].collect().head
    assert(after._2 == 1L && after._6 == 0L, after.toString)
    intercept[IllegalArgumentException] {
      Lake.fileStats(spark, flat + "/nope")
    }
  }

  test("filesPerPartition salt spreads a hot partition across bounded files") {
    val df = (1 to 3000).map(i => (i.toLong, "2024-01-10")).toDF("id", "dt")
      .repartition(16) // one hot partition value
    val out = Files.createTempDirectory("lake_hot").toString
    Lake.writePartitioned(df, out, Seq("dt"), filesPerPartition = 3)
    val files = parquetFilesPerDir(out)
    // hash-distributed: at most filesPerPartition, more than the single
    // file the unsalted path would produce
    assert(files("dt=2024-01-10") >= 2 && files("dt=2024-01-10") <= 3, files.toString)
    assert(spark.read.parquet(out).select(sum("id")).as[Long].head() ==
      (1 to 3000).map(_.toLong).sum)
  }

  test("diffSnapshots: insert/update/delete, null-safe values and keys, no-change silence") {
    val oldSnap = Seq(
      (Some(1L), Some("a"), Some(10L)),  // unchanged
      (Some(2L), Some("b"), Some(20L)),  // value update
      (Some(3L), Some("c"), Some(30L)),  // deleted
      (Some(4L), None, Some(40L)),       // NULL -> value update
      (Some(5L), Some("e"), Some(50L)),  // value -> NULL update
      (None, Some("nk"), Some(70L))      // NULL key, unchanged
    ).toDF("k", "s", "v")
    val newSnap = Seq(
      (Some(1L), Some("a"), Some(10L)),
      (Some(2L), Some("b"), Some(21L)),
      (Some(4L), Some("d"), Some(40L)),
      (Some(5L), Some("e"), None),
      (Some(6L), Some("f"), Some(60L)),  // inserted
      (None, Some("nk"), Some(70L))
    ).toDF("k", "s", "v")
    val got = Lake.diffSnapshots(oldSnap, newSnap, Seq("k"))
      .as[(Option[Long], String, Option[String], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.size == 5) // keys 1 and NULL emit nothing
    assert(got(Some(2L)) == ((Some(2L), "update", Some("b"), Some(21L))))
    assert(got(Some(3L)) == ((Some(3L), "delete", Some("c"), Some(30L))))
    assert(got(Some(4L)) == ((Some(4L), "update", Some("d"), Some(40L))))
    // value -> NULL carries the NEW null, not the resurrected old value
    assert(got(Some(5L)) == ((Some(5L), "update", Some("e"), None)))
    assert(got(Some(6L)) == ((Some(6L), "insert", Some("f"), Some(60L))))
    // preimages: updates/deletes carry the replaced row, inserts null
    val before = Lake.diffSnapshots(oldSnap, newSnap, Seq("k"),
        includeBefore = true)
      .select(col("k"), col("op"), col("_before.v").as("bv"),
        col("_before").isNull.as("bnull"))
      .as[(Option[Long], String, Option[Long], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(before(Some(2L))._3.contains(20L))   // update preimage
    assert(before(Some(3L))._3.contains(30L))   // delete preimage
    assert(before(Some(6L))._4)                 // insert: no preimage
  }

  test("latestSnapshot: last write wins, tombstones drop keys, older rows never resurface") {
    // (key, version, op, payload) — key 1 updated twice; key 2 deleted
    // LAST (must vanish even though older upserts exist); key 3 has a
    // delete in the MIDDLE (latest upsert must resurface the key with the
    // newest payload, not the pre-delete one); key 4 delete-only.
    val log = Seq(
      (1L, 1L, "u", "a"), (1L, 3L, "u", "c"), (1L, 2L, "u", "b"),
      (2L, 1L, "u", "x"), (2L, 2L, "d", ""),
      (3L, 1L, "u", "p"), (3L, 2L, "d", ""), (3L, 3L, "u", "q"),
      (4L, 1L, "d", "")
    ).toDF("k", "v", "op", "payload").repartition(5)
    val got = Lake.latestSnapshot(log, Seq("k"), Seq(col("v")),
        isDelete = col("op") === "d")
      .select("k", "v", "op", "payload")
      .as[(Long, Long, String, String)].collect().sorted.toSeq
    assert(got == Seq((1L, 3L, "u", "c"), (3L, 3L, "u", "q")))
    // one ObjectHashAggregate, no sort, no window
    val plan = Lake.latestSnapshot(log, Seq("k"), Seq(col("v")),
        isDelete = col("op") === "d")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"), plan)
    // version tie-break: a composite (v, seq) version is a total order
    val tied = Seq((1L, 1L, 10L, "old"), (1L, 1L, 20L, "new"))
      .toDF("k", "v", "seq", "payload")
    val snap = Lake.latestSnapshot(tied, Seq("k"), Seq(col("v"), col("seq")))
      .select("payload").as[String].collect().toSeq
    assert(snap == Seq("new"))
  }
}
