package graft.streaming

import graft.SparkSpec
import graft.operators.{Multimodal, PathCommit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pins for the loop-path layout in [[PathCommit]]: concurrent sink
  * writes ([[PathCommit.writeBatches]]), the rebalanced batch-partition
  * layout, the per-path history schema memo, and the missing-or-empty
  * history read — the contract is that none of them changes WHAT lands,
  * only how many files/jobs it costs. (Test names keep the helpers'
  * former `DocumentStreams` names.)
  */
class LoopWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_loopwrite").toString

  test("writeBatchPartitionsPar lands the same partitions and rows as " +
      "sequential writes, and a retry rewrites its own partition") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((10L, 7L), (11L, 8L)).toDF("id", "n")
    val base = tmp()
    val pA = s"$base/a"; val pB = s"$base/b"
    PathCommit.writeBatches(Seq(a -> pA, b -> pB), 0L)
    PathCommit.writeBatches(Seq(
      a.withColumn("v", concat(col("v"), lit("2"))) -> pA,
      b.withColumn("n", col("n") + 100L) -> pB), 1L)
    // retry of batch 1: same content, must rewrite, not append
    PathCommit.writeBatches(Seq(
      a.withColumn("v", concat(col("v"), lit("2"))) -> pA,
      b.withColumn("n", col("n") + 100L) -> pB), 1L)
    val gotA = spark.read.parquet(pA)
      .select(col("id"), col("v"), col("__batch_id").cast("long"))
      .as[(Long, String, Long)].collect().sorted
    assert(gotA.toSeq === Seq((1L, "x", 0L), (1L, "x2", 1L),
      (2L, "y", 0L), (2L, "y2", 1L)))
    val gotB = spark.read.parquet(pB)
      .select(col("id"), col("n"), col("__batch_id").cast("long"))
      .as[(Long, Long, Long)].collect().sorted
    assert(gotB.toSeq === Seq((10L, 7L, 0L), (10L, 107L, 1L),
      (11L, 8L, 0L), (11L, 108L, 1L)))
  }

  test("writeBatchPartitionsPar propagates a failing sink after awaiting " +
      "all siblings") {
    val ok = Seq((1L, 2L)).toDF("id", "n")
    // a frame whose evaluation throws (division in a filter forced at
    // write time)
    val bad = Seq((1L, 0L)).toDF("id", "z")
      .withColumn("boom", expr("raise_error('loopwrite-test-boom')"))
    val base = tmp()
    val e = intercept[Exception] {
      PathCommit.writeBatches(Seq(
        ok -> s"$base/ok", bad -> s"$base/bad"), 0L)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("loopwrite-test-boom")))
    // the healthy sibling still committed its partition
    assert(spark.read.parquet(s"$base/ok").count() === 1L)
  }

  test("rebalanced batch writes produce one file per batch partition at " +
      "toy scale (the §6 file-sizing contract)") {
    val rows = spark.range(0, 1000).toDF("id")
      .repartition(4) // the pre-round shape: one tiny file per task
    val p = tmp() + "/idx"
    PathCommit.writeBatch(rows, 0L, p)
    val files = new java.io.File(s"$p/__batch_id=0")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 1, s"expected 1 rebalanced file, found $files")
    assert(spark.read.parquet(p).count() === 1000L)
  }

  test("readHistory schema memo serves identical rows and schema on the " +
      "second read, including after new partitions land") {
    val p = tmp() + "/hist"
    PathCommit.writeBatch(
      Seq((1L, "a")).toDF("id", "t"), 0L, p)
    val first = PathCommit.history(spark, p, 99L).get
    val firstSchema = first.schema
    PathCommit.writeBatch(
      Seq((2L, "b")).toDF("id", "t"), 1L, p)
    val second = PathCommit.history(spark, p, 99L).get
    assert(second.schema === firstSchema)
    assert(second.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the in-flight batch's own partition stays excluded
    val excl = PathCommit.history(spark, p, 1L).get
    assert(excl.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  /** The shapes of a loop path with no history: missing, an empty
    * directory (a fresh deployment), one holding only `_SUCCESS`, and
    * what a write of an empty first batch leaves.
    */
  private def noHistoryPaths(): Seq[String] = {
    val base = tmp()
    val empty = new java.io.File(s"$base/empty")
    empty.mkdirs()
    val success = new java.io.File(s"$base/success")
    success.mkdirs()
    new java.io.File(success, "_SUCCESS").createNewFile()
    PathCommit.writeBatch(Seq.empty[(Long, String)].toDF("id", "t"), 0L,
      s"$base/emptybatch")
    Seq(s"$base/missing", empty.toString, success.toString, s"$base/emptybatch")
  }

  private def listing(p: String): Set[String] = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString).toSet
      finally walk.close()
    }
  }

  test("history is None and compactIntoSeed writes nothing over a path " +
      "that is missing or holds no data file") {
    noHistoryPaths().foreach { p =>
      val before = listing(p)
      assert(PathCommit.history(spark, p, 0L).isEmpty, p)
      PathCommit.compactIntoSeed(spark, p, uptoBatch = 3L, targetFiles = 1)(identity)
      assert(listing(p) == before, p)
      assert(!new java.io.File(p + "__compact_tmp").exists(), p)
    }
  }

  test("processMediaBatch over an index that holds no data publishes the " +
      "same rows as over a missing index") {
    val batch = Multimodal.withGradientImagePayload(
      Seq(0L, 1L, 8L, 9L, 40L).toDF("media_id"), "media_id")
    val hasher = (df: DataFrame, id: String) => Multimodal.dHash64(df, id)
    def published(indexPath: String): (Set[Long], Set[Long]) = {
      val out = tmp() + "/lake"
      MediaStreams.processMediaBatch(batch, 1L, "media_id", hasher,
        indexPath, out, maxDistance = 3)
      (spark.read.parquet(out).select("media_id").as[Long].collect().toSet,
        spark.read.parquet(indexPath).select("id").as[Long].collect().toSet)
    }
    val missing +: noData = noHistoryPaths().map(published)
    assert(missing._1 == Set(0L, 8L, 40L))
    noData.foreach(got => assert(got == missing))
  }
}
