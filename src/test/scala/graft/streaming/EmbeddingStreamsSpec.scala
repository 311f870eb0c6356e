package graft.streaming

import graft.SparkSpec
import graft.operators.PathCommit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EmbeddingStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def vecFor(id: Long): Array[Float] = EmbeddingSpecVecs.vecFor(id)

  private def vecs(ids: Long*): DataFrame =
    ids.map(i => i -> vecFor(i)).toDF("vec_id", "embedding")

  private val TH = 0.9

  test("streaming embedding ingest-dedup: history, in-batch, cross-batch, growing index") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath = tmp("graft_eidx")
    val outPath = tmp("graft_elake")

    // history: family 0 variants 0,1 already published
    PathCommit.seed(
      graft.operators.Dedup.embeddingLshIndex(vecs(0L, 1L), "vec_id", "embedding"),
      indexPath)

    val mem = MemoryStream[Long]
    val stream = mem.toDF().toDF("vec_id")
      .withColumn("embedding", udf(EmbeddingSpecVecs.vecFor _).apply(col("vec_id")))
    val q = EmbeddingStreams.ingestEmbeddingDedup(stream, "vec_id", "embedding",
      indexPath, outPath, threshold = TH).start()
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

    assert(spark.read.parquet(outPath).select("vec_id").as[Long]
      .collect().toSet == Set(8L, 40L))
    val idx = spark.read.parquet(indexPath)
    assert(idx.select("id").distinct().as[Long].collect().toSet ==
      Set(0L, 1L, 8L, 40L))
    // the slim layout holds: one vector-bearing row per published id
    assert(idx.filter(col("v").isNotNull).count() == 4L)
  }

  test("embedding loop: same-id re-send dropped; no transitive drop via unpublished; retry idempotent") {
    val indexPath = tmp("graft_eidx2")
    val outPath = tmp("graft_elake2")
    PathCommit.seed(
      graft.operators.Dedup.embeddingLshIndex(vecs(100L), "vec_id", "embedding"),
      indexPath)

    // batch 0: 101 ~ published 100 (dropped as dup-of-history); 8 is far
    // from everything published → kept
    EmbeddingStreams.processEmbeddingBatch(vecs(101L, 8L), 0L,
      "vec_id", "embedding", indexPath, outPath, TH, 3, 8, 42L)
    assert(spark.read.parquet(outPath).select("vec_id").as[Long]
      .collect().toSet == Set(8L))

    // batch 1 — the NO-TRANSITIVE-DROP-VIA-UNPUBLISHED policy, on an
    // explicit angle chain around the published P=100 (family-25 base):
    // A is 20° off P (cos 0.94 ≥ 0.9 → dropped via history); B is 20° off
    // A but 40° off P (cos 0.766 < 0.9 vs everything PUBLISHED) — B must
    // survive; dropping it through the unpublished A would be silent loss
    val base = vecFor(100L)
    def rot(deg: Double): Array[Float] = {
      // rotate in the plane spanned by `base` and a fixed orthogonal-ish
      // axis; exact angles don't matter, only the cos chain above
      val axis = Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f)
      val nb = math.sqrt(base.map(x => x.toDouble * x.toDouble).sum)
      val dotBA = base.zip(axis).map { case (x, y) => x.toDouble * y }.sum
      val ortho = axis.zip(base).map { case (a, b) =>
        (a - (dotBA / (nb * nb)) * b).toFloat }
      val no = math.sqrt(ortho.map(x => x.toDouble * x.toDouble).sum)
      val r = math.toRadians(deg)
      base.zip(ortho).map { case (b, o) =>
        (math.cos(r) * b / nb + math.sin(r) * o / no).toFloat }
    }
    val chain = Seq(200L -> rot(20.0), 201L -> rot(40.0), 45L -> vecFor(45L))
      .toDF("vec_id", "embedding")
    EmbeddingStreams.processEmbeddingBatch(chain, 1L,
      "vec_id", "embedding", indexPath, outPath, TH, 3, 8, 42L)
    assert(spark.read.parquet(outPath).select("vec_id").as[Long]
      .collect().toSet == Set(8L, 201L, 45L))

    // batch 2: the PUBLISHED id 100 re-sent verbatim — dropped against the
    // index (same-id matches count), not republished / double-indexed
    EmbeddingStreams.processEmbeddingBatch(vecs(100L), 2L,
      "vec_id", "embedding", indexPath, outPath, TH, 3, 8, 42L)
    assert(spark.read.parquet(outPath).filter(col("vec_id") === 100L).count() == 0)
    assert(spark.read.parquet(indexPath)
      .filter(col("id") === 100L && col("v").isNotNull).count() == 1)

    // RETRY: re-delivering committed batch 1 rewrites its own partition
    // only — no duplicates, no re-dropped survivors (the history read excludes
    // the in-flight batch's own index partition)
    EmbeddingStreams.processEmbeddingBatch(chain, 1L,
      "vec_id", "embedding", indexPath, outPath, TH, 3, 8, 42L)
    val lake = spark.read.parquet(outPath)
    assert(lake.filter(col("vec_id") === 45L).count() == 1)
    assert(lake.select("vec_id").as[Long].collect().toSet == Set(8L, 201L, 45L))
  }

  test("SemanticGuard: contaminated vectors reach no sink and never suppress") {
    val base = vecFor(100L)
    def rot(deg: Double): Array[Float] = {
      val axis = Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f)
      val nb = math.sqrt(base.map(x => x.toDouble * x.toDouble).sum)
      val dotBA = base.zip(axis).map { case (x, y) => x.toDouble * y }.sum
      val ortho = axis.zip(base).map { case (a, b) =>
        (a - (dotBA / (nb * nb)) * b).toFloat }
      val no = math.sqrt(ortho.map(x => x.toDouble * x.toDouble).sum)
      val r = math.toRadians(deg)
      base.zip(ortho).map { case (b, o) =>
        (math.cos(r) * b / nb + math.sin(r) * o / no).toFloat }
    }
    val suite = Seq(900L -> base).toDF("sid", "svec")
    val guard = Some(EmbeddingStreams.SemanticGuard(suite, "sid", "svec",
      threshold = 0.95))
    // C: 10° off the suite vector (cos 0.985 ≥ 0.95 → contaminated);
    // L: 30° off the suite (cos 0.866 < 0.95 → passes the guard) but only
    // 20° off C (cos 0.94 ≥ dedup 0.9 → WOULD dup-drop against C if C
    // were published)
    val batchC = Seq(200L -> rot(10.0), 8L -> vecFor(8L)).toDF("vec_id", "embedding")
    val batchL = Seq(201L -> rot(30.0)).toDF("vec_id", "embedding")

    val indexPath = tmp("graft_gidx"); val outPath = tmp("graft_glake")
    Seq(indexPath, outPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    EmbeddingStreams.processEmbeddingBatch(batchC, 0L, "vec_id", "embedding",
      indexPath, outPath, TH, 3, 8, 42L, guard)
    EmbeddingStreams.processEmbeddingBatch(batchL, 1L, "vec_id", "embedding",
      indexPath, outPath, TH, 3, 8, 42L, guard)
    // C neither published nor indexed; L NOT suppressed by unpublished C
    assert(spark.read.parquet(outPath).select("vec_id").as[Long]
      .collect().toSet == Set(8L, 201L))
    assert(spark.read.parquet(indexPath).select("id").distinct()
      .as[Long].collect().toSet == Set(8L, 201L))
    // counterfactual pin (the test is not vacuous): WITHOUT the guard, C
    // publishes and its index entry SUPPRESSES near-dup L
    val idx2 = tmp("graft_gidx2"); val out2 = tmp("graft_glake2")
    Seq(idx2, out2).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    EmbeddingStreams.processEmbeddingBatch(batchC, 0L, "vec_id", "embedding",
      idx2, out2, TH, 3, 8, 42L)
    EmbeddingStreams.processEmbeddingBatch(batchL, 1L, "vec_id", "embedding",
      idx2, out2, TH, 3, 8, 42L)
    assert(spark.read.parquet(out2).select("vec_id").as[Long]
      .collect().toSet == Set(200L, 8L))
  }

  test("embedding metrics sink: per-stage counts, retry rewrites") {
    val indexPath = tmp("graft_midx"); val outPath = tmp("graft_mlake")
    val mPath = tmp("graft_mm")
    Seq(mPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    PathCommit.seed(
      graft.operators.Dedup.embeddingLshIndex(vecs(100L), "vec_id", "embedding"),
      indexPath)
    val suite = Seq(900L -> vecFor(60L)).toDF("sid", "svec")
    val guard = Some(EmbeddingStreams.SemanticGuard(suite, "sid", "svec", 0.95))
    // 101 ~ published 100 (dup history); 8 fresh (published); 9 ~ 8
    // (dup in batch); 61 ~ suite vector 60 (contaminated)
    val batch = vecs(101L, 8L, 9L, 61L)
    EmbeddingStreams.processEmbeddingBatch(batch, 0L, "vec_id", "embedding",
      indexPath, outPath, TH, 3, 8, 42L, guard, Some(mPath))
    def metrics: (Long, Long, Long, Long, Long, Long) =
      spark.read.parquet(mPath)
        .filter(col("__batch_id") === 0L)
        .select("n_in", "n_null_vec", "n_dup_history", "n_dup_batch",
          "n_contaminated", "n_published")
        .as[(Long, Long, Long, Long, Long, Long)]
        .collect().toSeq match { case Seq(m) => m }
    assert(metrics == ((4L, 0L, 1L, 1L, 1L, 1L)))
    assert(spark.read.parquet(outPath).select("vec_id").as[Long]
      .collect().toSet == Set(8L))
    // retry rewrites the metrics partition, never appends
    EmbeddingStreams.processEmbeddingBatch(batch, 0L, "vec_id", "embedding",
      indexPath, outPath, TH, 3, 8, 42L, guard, Some(mPath))
    assert(spark.read.parquet(mPath).count() == 1L)
    assert(metrics == ((4L, 0L, 1L, 1L, 1L, 1L)))
  }

  test("metrics funnel with NULL vectors: drops + published = n_in; n_null_vec is a pass-through sub-count of n_published") {
    val indexPath = tmp("graft_nidx"); val outPath = tmp("graft_nlake")
    val mPath = tmp("graft_nm")
    Seq(mPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    PathCommit.seed(
      graft.operators.Dedup.embeddingLshIndex(vecs(100L), "vec_id", "embedding"),
      indexPath)
    val suite = Seq(900L -> vecFor(60L)).toDF("sid", "svec")
    val guard = Some(EmbeddingStreams.SemanticGuard(suite, "sid", "svec", 0.95))
    // 300 NULL vector (pass-through); 101 ~ published 100 (dup history);
    // 8 fresh (published); 9 ~ 8 (dup in batch); 61 ~ suite 60
    // (contaminated)
    val batch = Seq(
        300L -> Option.empty[Array[Float]],
        101L -> Some(vecFor(101L)), 8L -> Some(vecFor(8L)),
        9L -> Some(vecFor(9L)), 61L -> Some(vecFor(61L)))
      .toDF("vec_id", "embedding")
    EmbeddingStreams.processEmbeddingBatch(batch, 0L, "vec_id", "embedding",
      indexPath, outPath, TH, 3, 8, 42L, guard, Some(mPath))
    val Seq(m) = spark.read.parquet(mPath)
      .select("n_in", "n_null_vec", "n_dup_history", "n_dup_batch",
        "n_contaminated", "n_published")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(m == ((5L, 1L, 1L, 1L, 1L, 2L)))
    // the documented identity: drop stages + published partition the batch
    assert(m._3 + m._4 + m._5 + m._6 == m._1)
    assert(m._2 <= m._6) // null-vec rides inside n_published
    // the null-vec item is published but NOT indexed
    assert(spark.read.parquet(outPath).select("vec_id").as[Long]
      .collect().toSet == Set(8L, 300L))
    assert(spark.read.parquet(indexPath)
      .filter(col("id") === 300L).count() == 0)
  }

  test("SemanticGuard: maxSuite near Long.MaxValue validates instead of overflowing") {
    val suite = Seq(900L -> vecFor(60L)).toDF("sid", "svec")
    val g = EmbeddingStreams.SemanticGuard(suite, "sid", "svec", 0.95,
      maxSuite = Long.MaxValue)
    assert(g.validatedSuite.count() == 1L)
  }

  test("compactEmbeddingIndex: audits the one-non-null-vector-row-per-id invariant") {
    val indexPath = tmp("graft_cidx"); val outPath = tmp("graft_clake")
    Seq(indexPath, outPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    EmbeddingStreams.processEmbeddingBatch(vecs(8L, 40L), 0L,
      "vec_id", "embedding", indexPath, outPath, TH, 3, 8, 42L)
    EmbeddingStreams.processEmbeddingBatch(vecs(100L), 1L,
      "vec_id", "embedding", indexPath, outPath, TH, 3, 8, 42L)
    // healthy: audit passes and the layout compacts to the seed partition
    EmbeddingStreams.compactEmbeddingIndex(spark, indexPath, uptoBatch = 1L,
      targetFiles = 1)
    assert(new java.io.File(indexPath).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__batch_id=")) == 1)
    // doctor the index: a SECOND non-null vector row for a published id
    // (the hand-seeded-index hazard) — the next compaction fails loudly
    PathCommit.writeBatch(
      graft.operators.Dedup.embeddingLshIndex(vecs(8L), "vec_id", "embedding"),
      99L, indexPath)
    val e = intercept[IllegalArgumentException] {
      EmbeddingStreams.compactEmbeddingIndex(spark, indexPath,
        uptoBatch = 99L, targetFiles = 1)
    }
    assert(e.getMessage.contains("slim-layout invariant"))
  }

  test("drift monitor: a partial __ref memo (no _SUCCESS) is rebuilt, not trusted") {
    val statsPath = tmp("graft_edriftp") + "/stats"
    val reference = (0L until 12L).map(i => (i, vecFor(i), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val b0 = (100L until 106L).map(i => (i, vecFor(i), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    // simulate a first-batch crash partway through the memo write: the
    // directory exists, holds a stray file, but carries no _SUCCESS
    val refDir = new java.io.File(statsPath + "__ref")
    refDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(refDir, "part-garbage.parquet").toPath,
      Array[Byte](1, 2, 3))
    EmbeddingStreams.processDriftBatch(b0, 0L, reference, "embedding",
      Seq("label"), statsPath)
    // the memo was rebuilt (our commit marker present — written by the
    // monitor itself, so the memo survives committers configured to not
    // write _SUCCESS) and the landed rows match the direct computation —
    // a trusted partial table would have failed or mis-centroided
    assert(new java.io.File(refDir, "_GRAFT_COMMIT").exists())
    val got = spark.read.parquet(statsPath)
      .select("label", "n_a", "n_b", "cos2_ppm", "cos_sign", "dist2")
      .collect().map(_.toSeq).toSet
    val direct = graft.operators.Profile.embeddingDrift(
        reference, b0, col("embedding"), Seq("label"))
      .collect().map(_.toSeq).toSet
    assert(got == direct)
  }

  test("drift monitor: per-batch rows == direct embeddingDrift; MemoryStream end-to-end; retry rewrites") {
    implicit val sqlCtx = spark.sqlContext
    val statsPath = tmp("graft_edrift") + "/stats"
    val reference = (0L until 12L).map(i => (i, vecFor(i), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val b0 = (100L until 106L).map(i => (i, vecFor(i), (i % 2).toInt))
    val b1 = (200L until 210L).map(i => (i, vecFor(i), (i % 2).toInt))
    val mem = MemoryStream[(Long, Array[Float], Int)]
    val q = EmbeddingStreams.driftMonitorStream(
        mem.toDF().toDF("vec_id", "embedding", "label"),
        reference, "embedding", Seq("label"), statsPath)
      .start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(statsPath)
    assert(landed.count() == 4L) // 2 labels × 2 batches
    val got1 = landed.filter(col("__batch_id") === 1)
      .select("label", "n_a", "n_b", "cos2_ppm", "cos_sign", "dist2")
      .collect().map(_.toSeq).toSet
    val direct1 = graft.operators.Profile.embeddingDrift(
        reference, b1.toDF("vec_id", "embedding", "label"),
        col("embedding"), Seq("label"))
      .collect().map(_.toSeq).toSet
    assert(got1 == direct1)
    // retry: same content, same batch id — rewrites its partition
    EmbeddingStreams.processDriftBatch(
      b1.toDF("vec_id", "embedding", "label"), 1L, reference,
      "embedding", Seq("label"), statsPath)
    assert(spark.read.parquet(statsPath).count() == 4L)
  }
}

/** Deterministic id → vector (family = id div 4; variants of a family are
  * small jitters of its base: cosine ≈ 0.999 within, ≈ 0 across). A
  * standalone object so the streaming test's UDF serializes without
  * dragging the suite instance into the closure.
  */
object EmbeddingSpecVecs extends Serializable {
  def vecFor(id: Long): Array[Float] = {
    val fam = (id / 4L).toInt
    val base = {
      val r = new scala.util.Random(1000 + fam)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val j = new scala.util.Random(id)
    base.map(x => x + 0.01f * j.nextGaussian().toFloat)
  }
}
