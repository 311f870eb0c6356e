package graft.tools

import graft.LocalSession
import graft.functions.{MinHashSignature, RollingFingerprint, SimHash64, WordShingles}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Generates the GOLDEN ORACLE FIXTURES under `src/test/resources/golden/`:
  * brute-force O(n²) single-node recomputations of the deterministic dedup /
  * multimodal operators over the sf0.01 corpus, written as parquet the
  * DuckDB correctness gate SELECTs directly.
  *
  * INDEPENDENCE: only the per-row hash primitives (simhash / minhash
  * signature / rolling fingerprint — the algorithm definitions themselves)
  * are shared with the engine. Everything the DISTRIBUTED operators do —
  * pigeonhole chunk bucketing, LSH banding, posting-list joins,
  * df capping, pair dedup, greedy drop — is recomputed here as plain
  * all-pairs Scala loops, so the fixtures catch any candidate-generation
  * loss or join/aggregation bug.
  *
  * Run: `sbt "Test/runMain graft.tools.GoldenGen"` (then commit the parquet).
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outBase = args.lift(1).getOrElse("src/test/resources/golden")
    val spark = LocalSession(8)
    import spark.implicits._

    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs: Array[(Long, String)] = docsDf
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val n = docs.length
    require(n > 0 && n <= 2000, s"golden generation is brute-force; got $n docs")

    // optional 3rd arg: comma-separated fixture names to (re)generate —
    // everything else is computed but NOT written, so a single new fixture
    // can be added without touching committed ones (the IVF index fit in
    // particular is the one non-replayable step)
    val onlyFixtures = args.lift(2).map(_.split(",").map(_.trim).toSet)
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      if (!onlyFixtures.forall(_.contains(name))) return
      val dir = s"$outBase/$name"
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      // keep only the part file: _SUCCESS/.crc would be git noise
      new java.io.File(dir).listFiles().foreach { f =>
        if (!f.getName.endsWith(".parquet")) f.delete()
      }
      println(s"[golden] $name: ${df.count()} rows -> $dir")
    }

    // ---- q_dedup_simhash: all-pairs Hamming over 64-bit simhash ----------
    // (pigeonhole chunking in the operator is provably lossless for
    // hamming <= 3 over 4 chunks, so brute force IS the exact expectation)
    val sh = docs.map { case (id, t) =>
      id -> SimHash64.computeText(UTF8String.fromString(t))
    }
    val simPairs = for {
      i <- (0 until n).iterator
      j <- (i + 1) until n
      d = java.lang.Long.bitCount(sh(i)._2 ^ sh(j)._2)
      if d <= 3
    } yield (sh(i)._1, sh(j)._1, d)
    write(simPairs.toSeq.toDF("id1", "id2", "hamming"), "q_dedup_simhash")

    // ---- q_fingerprint_winnow: shared winnowing fingerprints ------------
    // k=12, w=16, minShared=3, maxDf=100 (battery params)
    val fps: Array[(Long, Set[Long])] = docs.map { case (id, t) =>
      val arr = RollingFingerprint.compute(UTF8String.fromString(t), 12, 16)
      id -> arr.toLongArray().toSet
    }
    val df = scala.collection.mutable.HashMap.empty[Long, Int]
    fps.foreach { case (_, s) => s.foreach(fp => df(fp) = df.getOrElse(fp, 0) + 1) }
    val kept: Set[Long] = df.collect { case (fp, c) if c >= 2 && c <= 100 => fp }.toSet
    val keptFps = fps.map { case (id, s) => id -> s.intersect(kept) }
    val winnowPairs = for {
      i <- (0 until n).iterator
      j <- (i + 1) until n
      shared = keptFps(i)._2.intersect(keptFps(j)._2).size.toLong
      if shared >= 3L
    } yield (keptFps(i)._1, keptFps(j)._1, shared)
    write(winnowPairs.toSeq.toDF("id1", "id2", "shared"), "q_fingerprint_winnow")

    // ---- q_dedup_minhash: banded signature agreement ---------------------
    // shingleSize=3, numHashes=128, bands=32 (rows=4), threshold=0.5
    val numHashes = 128
    val bands = 32
    val rows = numHashes / bands
    val sigs: Array[(Long, Array[Long])] = docs.flatMap { case (id, t) =>
      val shingles = WordShingles.compute(UTF8String.fromString(t), 3)
      if (shingles.numElements() == 0) None
      else Some(id -> MinHashSignature.compute(shingles, numHashes).toLongArray())
    }
    def bandAgree(a: Array[Long], b: Array[Long]): Boolean =
      (0 until bands).exists { bd =>
        var r = 0
        var ok = true
        while (ok && r < rows) { ok = a(bd * rows + r) == b(bd * rows + r); r += 1 }
        ok
      }
    val m = sigs.length
    val minhashPairs = (for {
      i <- (0 until m).iterator
      j <- (i + 1) until m
      if bandAgree(sigs(i)._2, sigs(j)._2)
      est = sigs(i)._2.zip(sigs(j)._2).count { case (x, y) => x == y }.toDouble / numHashes
      if est >= 0.5
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSeq
    write(minhashPairs.toDF("id1", "id2"), "q_dedup_minhash")

    // ---- q_neardup_drop: greedy removal from the minhash pairs ----------
    val dropped: Set[Long] = minhashPairs.map(_._2).toSet
    val keptIds = docs.map(_._1).filterNot(dropped).toSet
    write(docsDf.filter($"doc_id".isInCollection(keptIds)), "q_neardup_drop")

    // (q_mm_decode no longer needs a golden fixture: the real ImageIO
    // round-trip has arithmetic dimensions a plain SQL oracle recomputes)

    // ---- q_bpe_merge: vocab-driven BPE over the committed merges file ----
    // Independent encoder: same merges fixture and pretokenizer pattern
    // (the algorithm definitions), but a separately-written list-based
    // greedy loop — catches rank-order, merge-all-occurrences, and
    // flattening bugs in the engine's codegen'd expression.
    val mergeRanks: Map[(String, String), Int] =
      java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("src/main/resources/graft/bpe/merges_en.txt"))
        .asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
        .zipWithIndex.map { case (l, i) =>
          val sp = l.split("\t", 2); ((sp(0), sp(1)), i)
        }.toMap
    val bpePat = java.util.regex.Pattern.compile(
      graft.functions.TextFunctions.bpePattern)
    def encodeRefWith(ranksMap: Map[(String, String), Int])(word: String): List[String] = {
      var syms = word.map(String.valueOf).toList
      var go = syms.length > 1
      while (go) {
        val ranks = syms.zip(syms.tail).map(p => ranksMap.getOrElse(p, Int.MaxValue))
        val best = if (ranks.isEmpty) Int.MaxValue else ranks.min
        if (best == Int.MaxValue) go = false
        else {
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var rest = syms
          while (rest.nonEmpty) rest match {
            case a :: b :: t if ranksMap.getOrElse((a, b), Int.MaxValue) == best =>
              out += a + b; rest = t
            case a :: t => out += a; rest = t
          }
          syms = out.toList
        }
      }
      syms
    }
    def encodeRef(word: String): List[String] = encodeRefWith(mergeRanks)(word)
    val bpeToks: Array[(Long, Vector[String])] = docs.map { case (id, t) =>
      val mt = bpePat.matcher(t)
      val toks = Vector.newBuilder[String]
      while (mt.find()) {
        val w = mt.group()
        if (!w.forall(Character.isWhitespace)) toks ++= encodeRef(w)
      }
      (id, toks.result())
    }
    write(bpeToks.map { case (id, toks) =>
      (id, toks.mkString("\u0001"), toks.length.toLong)
    }.toSeq.toDF("doc_id", "toks_joined", "n_tokens"), "q_bpe_merge")

    // ---- q_chunk_bpe: token windows over the merged-subword stream ------
    // (chunkTokens = 24, stride = 24 — the battery row's params; chunk
    // text is subword concatenation, which reconstructs the pretoken
    // stream exactly)
    val bpeChunks = bpeToks.flatMap { case (id, toks) =>
      if (toks.isEmpty) Nil
      else (0 until toks.length by 24).zipWithIndex.map { case (start, ci) =>
        val w = toks.slice(start, start + 24)
        (id, ci.toLong, w.mkString(""), w.length.toLong)
      }
    }
    write(bpeChunks.toSeq.toDF("doc_id", "chunk_id", "chunk_text", "n_tokens"),
      "q_chunk_bpe")

    // ---- q_bpe_bytes: BYTE-LEVEL BPE over the byte-level merges file ----
    // Same independent greedy loop, but each pretoken passes through an
    // INDEPENDENTLY-WRITTEN bytes_to_unicode remap first (table built from
    // the published GPT-2 ranges here, not from graft.functions.ByteLevel —
    // a transposed range or off-by-one in either implementation breaks the
    // fixture match).
    val byteRanks: Map[(String, String), Int] =
      java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("src/main/resources/graft/bpe/merges_en_bytes.txt"))
        .asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
        .zipWithIndex.map { case (l, i) =>
          val sp = l.split("\t", 2); ((sp(0), sp(1)), i)
        }.toMap
    val b2u: Map[Int, Char] = {
      val keep = (33 to 126) ++ (161 to 172) ++ (174 to 255)
      val keepSet = keep.toSet
      var next = 256
      (0 to 255).map { b =>
        if (keepSet(b)) b -> b.toChar
        else { val c = next.toChar; next += 1; b -> c }
      }.toMap
    }
    def remap(w: String): String =
      w.getBytes("UTF-8").map(b => b2u(b & 0xff)).mkString
    val byteToks: Array[(Long, Vector[String])] = docs.map { case (id, t) =>
      val mt = bpePat.matcher(t)
      val toks = Vector.newBuilder[String]
      while (mt.find()) {
        val w = mt.group()
        if (!w.forall(Character.isWhitespace))
          toks ++= encodeRefWith(byteRanks)(remap(w))
      }
      (id, toks.result())
    }
    write(byteToks.map { case (id, toks) =>
      (id, toks.mkString(""), toks.length.toLong)
    }.toSeq.toDF("doc_id", "toks_joined", "n_tokens"), "q_bpe_bytes")

    // ---- LSH embedding queries: DETERMINISTIC given the seeded planes ----
    // Shared primitive: only the hyperplane family (planesFor) + the
    // sequential cosine loop (same accumulation order → bitwise-equal
    // doubles). The distributed machinery — bucket-code explode, band join,
    // distinct, arrays_overlap candidate filter, TakeOrdered — is
    // recomputed as plain driver loops via the query-side code path.
    val embs: Array[(Long, Seq[Float])] = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().sortBy(_._1)
    require(embs.nonEmpty && embs.length <= 2000, s"got ${embs.length} vectors")

    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      val len = math.min(a.length, b.length)
      while (i < len) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      if (denom == 0.0) 0.0 else dot / denom
    }

    // q_embed_neardup_lsh: planes=3, tables=8, seed=42, threshold=0.45
    val codes3 = embs.map { case (id, v) =>
      id -> graft.operators.Similarity.queryBucketCodes(v, 3, 8, 42L).toSet
    }.toMap
    val lshPairs = for {
      i <- (0 until embs.length).iterator
      j <- (i + 1) until embs.length
      (id1, v1) = embs(i); (id2, v2) = embs(j)
      if codes3(id1).intersect(codes3(id2)).nonEmpty
      cos = cosine(v1, v2)
      if cos >= 0.45
    } yield (id1, id2, cos)
    write(lshPairs.toSeq.toDF("id1", "id2", "cos"), "q_embed_neardup_lsh")

    // q_embed_neardup_tuned: SAME pipeline, but planes/tables derived from
    // the corpus count by LshTuning.forCorpus (the production default) —
    // the end-to-end proof that the density-scaled tuning path computes
    // real answers, not just sweep points. Deterministic: the tuner is a
    // closed form of (n, threshold) and the planes are seeded.
    val tuned = graft.operators.LshTuning.forCorpus(embs.length.toLong, 0.45)
    println(s"[golden] q_embed_neardup_tuned params: planes=${tuned.planes} tables=${tuned.tables}")
    val codesT = embs.map { case (id, v) =>
      id -> graft.operators.Similarity
        .queryBucketCodes(v, tuned.planes, tuned.tables, 42L).toSet
    }.toMap
    val tunedPairs = for {
      i <- (0 until embs.length).iterator
      j <- (i + 1) until embs.length
      (id1, v1) = embs(i); (id2, v2) = embs(j)
      if codesT(id1).intersect(codesT(id2)).nonEmpty
      cos = cosine(v1, v2)
      if cos >= 0.45
    } yield (id1, id2, cos)
    write(tunedPairs.toSeq.toDF("id1", "id2", "cos"), "q_embed_neardup_tuned")

    // q_embed_neardup_guarded: the degenerate-clique CERTIFICATE over a
    // corpus with real exact-vector cliques (vec_id < 25 duplicated at
    // id + 2^40) — min-id stars from exact-duplicate vector groups plus
    // rep-level LSH pairs (planes=3/tables=8/seed=42, threshold 0.45,
    // maxBucket 1000 — never triggered at this scale; the cap path is
    // spec-gated adversarially). Driver mirror: content-group the
    // vectors, emit stars, then code-overlap + sequential cosine over
    // the reps only.
    val gCorpus: Array[(Long, Seq[Float])] =
      embs ++ embs.filter(_._1 < 25L).map { case (id, v) => (id + (1L << 40), v) }
    val byVec: Seq[(Seq[Float], Seq[Long])] = gCorpus
      .groupBy(_._2.toVector).toSeq
      .map { case (_, items) => (items.head._2, items.map(_._1).sorted.toSeq) }
    val gStars = byVec.iterator.flatMap { case (v, ids) =>
      val cosSelf = cosine(v, v)
      if (cosSelf >= 0.45) ids.tail.map(m => (ids.head, m, cosSelf)) else Nil
    }.toSeq
    val gReps: Seq[(Long, Seq[Float])] =
      byVec.map { case (v, ids) => (ids.head, v) }.sortBy(_._1)
    val gCodes: Map[Long, Set[Long]] = gReps.map { case (id, v) =>
      id -> graft.operators.Similarity.queryBucketCodes(v, 3, 8, 42L).toSet
    }.toMap
    val occ = gReps.iterator.flatMap(r => gCodes(r._1))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val keptCodes = occ.collect { case (c, k) if k <= 1000 => c }.toSet
    val gPairs = for {
      i <- gReps.indices.iterator
      j <- (i + 1) until gReps.size
      (id1, v1) = gReps(i); (id2, v2) = gReps(j)
      if gCodes(id1).intersect(gCodes(id2)).intersect(keptCodes).nonEmpty
      cos = cosine(v1, v2)
      if cos >= 0.45
    } yield (id1, id2, cos)
    write((gStars ++ gPairs).toDF("id1", "id2", "cos"), "q_embed_neardup_guarded")

    // q_sem_contaminate_lsh: CROSS-TABLE LSH contamination — corpus
    // (vec_id >= 50) probes the fixed suite (vec_id < 50) through the
    // bucket join; fixed planes=3/tables=8/seed=42 (codes3 above),
    // threshold 0.4. Driver mirror: code-overlap candidates, sequential
    // cosine, hits only.
    val semBench = embs.filter(_._1 < 50L)
    val semHits = for {
      (cid, cv) <- embs.iterator if cid >= 50L
      (bid, bv) <- semBench.iterator
      if codes3(cid).intersect(codes3(bid)).nonEmpty
      cos = cosine(cv, bv)
      if cos >= 0.4
    } yield (cid, bid, cos)
    write(semHits.toSeq.toDF("id", "bench_id", "cos"), "q_sem_contaminate_lsh")

    // q_embed_incremental: the incremental embedding probe — new slice
    // (vec_id % 20 = 7) vs the index of the rest, fixed planes=3/tables=8
    // /seed=42 (codes3), threshold 0.4. Driver mirror: code-overlap
    // candidates, sequential cosine, excludeSelf irrelevant (slices are
    // disjoint by id).
    val incHits = for {
      (nid, nv) <- embs.iterator if nid % 20L == 7L
      (oid, ov) <- embs.iterator if oid % 20L != 7L
      if codes3(nid).intersect(codes3(oid)).nonEmpty
      cos = cosine(nv, ov)
      if cos >= 0.4
    } yield (nid, oid, cos)
    write(incHits.toSeq.toDF("new_id", "old_id", "cos"), "q_embed_incremental")

    // q_embed_ingest_stream: the 3-batch EMBEDDING ingest-dedup loop
    // (EmbeddingStreams.processEmbeddingBatch) replayed as plain driver
    // loops — batches vec_id % 3 in order; per batch: drop anything at
    // code-overlap + cosine >= 0.45 of a PUBLISHED vector
    // (first-arrival-wins), then in-batch id2 drops among history-probe
    // survivors (pairs by the same relation), publish the rest and grow
    // the published set by survivors only. planes=3/tables=8/seed=42
    // (codes3 above — the loop's fixed-tuning contract).
    {
      val published = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
      val survivorRows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      for (b <- 0 until 3) {
        val batchV = embs.filter(_._1 % 3 == b)
        val dropHist = batchV.filter { case (id, v) =>
          published.exists { case (pid, pv) =>
            codes3(id).intersect(codes3(pid)).nonEmpty && cosine(v, pv) >= 0.45
          }
        }.map(_._1).toSet
        val elig = batchV.filter(x => !dropHist.contains(x._1))
        val dropBatch = (for {
          i <- elig.indices.iterator
          j <- (i + 1) until elig.length
          (id1, v1) = elig(i); (id2, v2) = elig(j)
          if codes3(id1).intersect(codes3(id2)).nonEmpty
          if cosine(v1, v2) >= 0.45
        } yield id2).toSet
        val kept = elig.filter(x => !dropBatch.contains(x._1))
        published ++= kept
        survivorRows ++= kept.map(x => (x._1, b.toLong))
      }
      write(survivorRows.toSeq.toDF("vec_id", "batch_id"),
        "q_embed_ingest_stream")
    }

    // q_embed_metrics_stream: the embed loop's PER-BATCH ATTRITION
    // METRICS sink, with the SemanticGuard armed — same 3-batch replay as
    // q_embed_ingest_stream (threshold 0.45, codes3 tuning) plus the
    // guard stage on dedup survivors (contaminated = within cosine 0.4
    // of ANY suite vector, suite = vec_id < 50 — the q_sem_contaminate
    // convention; brute over the broadcast-sized suite, exactly what
    // Curation.semanticContaminationHits computes). One row per batch:
    // (n_in, n_null_vec, n_dup_history, n_dup_batch, n_contaminated,
    // n_published); the stage counts are differences of consecutive
    // survivor counts, so they SUM to n_in by construction — the funnel
    // identity the battery row gates.
    {
      val suite = embs.filter(_._1 < 50L)
      val published = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long, Long)]()
      for (b <- 0 until 3) {
        val batchV = embs.filter(_._1 % 3 == b)
        val dropHist = batchV.filter { case (id, v) =>
          published.exists { case (pid, pv) =>
            codes3(id).intersect(codes3(pid)).nonEmpty && cosine(v, pv) >= 0.45
          }
        }.map(_._1).toSet
        val elig = batchV.filter(x => !dropHist.contains(x._1))
        val dropBatch = (for {
          i <- elig.indices.iterator
          j <- (i + 1) until elig.length
          (id1, v1) = elig(i); (id2, v2) = elig(j)
          if codes3(id1).intersect(codes3(id2)).nonEmpty
          if cosine(v1, v2) >= 0.45
        } yield id2).toSet
        val deduped = elig.filter(x => !dropBatch.contains(x._1))
        val contaminated = deduped.filter { case (_, v) =>
          suite.exists { case (_, sv) => cosine(v, sv) >= 0.4 }
        }.map(_._1).toSet
        val kept = deduped.filter(x => !contaminated.contains(x._1))
        published ++= kept
        rows += ((b.toLong, batchV.length.toLong, 0L, dropHist.size.toLong,
          dropBatch.size.toLong, contaminated.size.toLong, kept.length.toLong))
      }
      write(rows.toSeq.toDF("batch_id", "n_in", "n_null_vec",
          "n_dup_history", "n_dup_batch", "n_contaminated", "n_published"),
        "q_embed_metrics_stream")
    }

    // q_ann_lsh: query = vec_id 0, planes=4, tables=8, seed=42, k=10,
    // candidates by code overlap, exact cosine, (cos desc, vec_id) order
    val qVec = embs.find(_._1 == 0L).get._2
    val qCodes = graft.operators.Similarity.queryBucketCodes(qVec, 4, 8, 42L).toSet
    val annTop = embs.iterator
      .filter(_._1 != 0L)
      .filter { case (_, v) =>
        graft.operators.Similarity.queryBucketCodes(v, 4, 8, 42L)
          .toSet.intersect(qCodes).nonEmpty
      }
      .map { case (id, v) => (id, cosine(qVec, v)) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(10)
    write(annTop.toDF("vec_id", "cos"), "q_ann_lsh")

    // q_knn_join_lsh: queries = vec_id % 50 == 0, corpus = rest,
    // planes=3, tables=8, seed=42, k=5 — per query: bucket-overlap
    // candidates, exact cosine, (cos desc, id) top-5 with 1-based rank.
    val knnQueries = embs.filter(_._1 % 50 == 0)
    val knnCorpus = embs.filter(_._1 % 50 != 0)
    val knnRows = knnQueries.flatMap { case (qid, qv) =>
      val qc = codes3(qid)
      knnCorpus.iterator
        .filter { case (cid, _) => codes3(cid).intersect(qc).nonEmpty }
        .map { case (cid, cv) => (cid, cosine(qv, cv)) }
        .toSeq.sortBy { case (cid, c) => (-c, cid) }.take(5)
        .zipWithIndex
        .map { case ((cid, c), i) => (qid, cid, c, (i + 1).toLong) }
    }
    write(knnRows.toSeq.toDF("query_id", "neighbor_id", "cos", "rank"),
      "q_knn_join_lsh")

    // q_knn_label_lsh: queries = vec_id % 50 == 0, labeled seeds = rest,
    // planes=3/tables=8/seed=42 (codes3), k=5 — per query: bucket-overlap
    // candidates, EXACT INTEGER dot on 1e-4-quantized vectors
    // (labelPropagate's arithmetic), (dot desc, id) top-5, majority vote
    // (votes desc, label asc).
    val labelsById = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    def qvec(v: Seq[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * 10000)).toArray
    def qdot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val lpQueries = embs.filter(_._1 % 50 == 0)
    val lpSeeds = embs.filter(_._1 % 50 != 0)
    val lpRows = lpQueries.flatMap { case (qid, qv) =>
      val qc = codes3(qid); val qq = qvec(qv)
      val top = lpSeeds.iterator
        .filter { case (sid, _) => codes3(sid).intersect(qc).nonEmpty }
        .map { case (sid, sv) => (sid, labelsById(sid), qdot(qq, qvec(sv))) }
        .toSeq.sortBy { case (sid, _, d) => (-d, sid) }.take(5)
      // mirror the operator: a query with ZERO bucket collisions emits no
      // row (labelPropagateLsh drops it) — .head here would crash golden
      // regeneration at a tuning/sf where some bucket list comes up empty
      top.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (l, n) => (-n, l) }.headOption
        .map { case (label, votes) => (qid, label, votes.toLong) }
    }
    write(lpRows.toSeq.toDF("query_id", "pred_label", "n_votes"),
      "q_knn_label_lsh")

    // q_knn_label_vote: labelPropagateLsh at the OPT-IN forVote tuning,
    // on the PINNED clustered fixture (Queries.clusteredLabelCorpus —
    // deterministic, SF-independent; the DATA is shared, the machinery
    // below is recomputed). Tuning derived exactly as the battery row
    // derives it (n = 1800 seeds, threshold 0.9, k = 5); mirror = bucket
    // overlap at those params + quantized integer dot + majority vote.
    {
      val cl: Array[(Long, Seq[Float], Int)] =
        graft.Queries.clusteredLabelCorpus(spark)
          .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
      val tv = graft.operators.LshTuning.forVote(1800L, 0.9, k = 5)
      val codesV = cl.map { case (id, v, _) =>
        id -> graft.operators.Similarity
          .queryBucketCodes(v, tv.planes, tv.tables, 42L).toSet
      }.toMap
      val vQueries = cl.filter(_._1 % 10 == 0)
      val vSeeds = cl.filter(_._1 % 10 != 0)
      val voteRows = vQueries.toSeq.flatMap { case (qid, qv, _) =>
        val qc = codesV(qid); val qq = qvec(qv)
        val top = vSeeds.iterator
          .filter { case (sid, _, _) => codesV(sid).intersect(qc).nonEmpty }
          .map { case (sid, sv, sl) => (sid, sl, qdot(qq, qvec(sv))) }
          .toSeq.sortBy { case (sid, _, d) => (-d, sid) }.take(5)
        top.groupBy(_._2).view.mapValues(_.size).toSeq
          .sortBy { case (l, nv) => (-nv, l) }.headOption
          .map { case (label, votes) => (qid, label, votes.toLong) }
      }
      write(voteRows.toDF("query_id", "pred_label", "n_votes"),
        "q_knn_label_vote")
    }

    // ---- q_ann_ivf: committed seeded IVF index + expected probe top-k ---
    // The k-means fit is the one non-replayable build step, so the SEEDED
    // INDEX ITSELF is the fixture (assigned table partitioned by cluster +
    // centroids). The expected probe result is then recomputed with plain
    // driver loops OVER THE COMMITTED INDEX — centroid L2 ranking,
    // nprobe=4 cluster filter, exact cosine, (cos desc, id) top-10 — so
    // the distributed partition-pruned probe is what the gate checks.
    val ivf = graft.operators.Similarity.buildIvf(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter($"vec_id" =!= 0L).select("vec_id", "embedding"),
      "vec_id", "embedding", nClusters = 16, seed = 42L)
    val idxDir = s"$outBase/ivf_index"
    // the index directory is ITSELF a committed fixture (written directly,
    // not via write()) — honor the fixture filter here too, else a run
    // for one new fixture silently replaces the non-replayable k-means fit
    if (onlyFixtures.forall(_.contains("ivf_index"))) {
      ivf.assigned.coalesce(1).write.mode("overwrite")
        .partitionBy("__cluster").parquet(s"$idxDir/assigned")
      ivf.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cluster", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$idxDir/centroids")
      def cleanTree(f: java.io.File): Unit =
        f.listFiles().foreach { c =>
          if (c.isDirectory) cleanTree(c)
          else if (!c.getName.endsWith(".parquet")) c.delete()
        }
      cleanTree(new java.io.File(idxDir))
    }
    val assignedBack: Array[(Long, Seq[Float], Int)] = spark.read
      .parquet(s"$idxDir/assigned")
      .select("vec_id", "embedding", "__cluster")
      .as[(Long, Seq[Float], Int)].collect()
    def l2(c: Array[Double]): Double =
      math.sqrt(c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probe = ivf.centroids.zipWithIndex
      .sortBy { case (c, _) => l2(c) }.take(4).map(_._2).toSet
    val ivfTop = assignedBack.iterator
      .filter { case (_, _, cl) => probe.contains(cl) }
      .map { case (id, v, _) => (id, cosine(qVec, v)) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(10)
    write(ivfTop.toDF("vec_id", "cos"), "q_ann_ivf")
    println(s"[golden] ivf_index: ${assignedBack.length} vectors, " +
      s"${ivf.centroids.length} centroids -> $idxDir")

    // ---- q_hybrid_rrf_ann_pruned: PRUNED-nprobe hybrid fusion ----------
    // The production hybrid shape with the dense leg actually pruned
    // (nprobe=4 of 16 over the committed index — the same probe set as
    // q_ann_ivf, at k=20). BM25 driver mirror: lowercase whitespace
    // tokens, k1=1.2/b=0.75, the battery row's query terms; fusion is
    // the exact rrfFuse arithmetic (1/(60+rank), bm term then ann term).
    val qTerms = Seq("vector", "spark", "customer")
    val docToks: Array[(Long, Array[String])] = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    }
    val ndocs = docToks.length.toDouble
    val avgdl = docToks.map(_._2.length.toLong).sum.toDouble / ndocs
    val dfT: Map[String, Int] =
      qTerms.map(t => t -> docToks.count(_._2.contains(t))).toMap
    val bmScored = docToks.flatMap { case (id, toks) =>
      val dl = toks.length.toDouble
      val terms = qTerms.flatMap { t =>
        val tfq = toks.count(_ == t).toDouble
        if (tfq == 0) None
        else {
          val idf = math.log((ndocs - dfT(t) + 0.5) / (dfT(t) + 0.5) + 1.0)
          Some(idf * (tfq * (1.2 + 1.0)) /
            (tfq + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)))
        }
      }
      if (terms.isEmpty) None else Some((id, terms.sum))
    }
    val bmRanks: Seq[(Long, Long)] = bmScored.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }
    val annRanks: Seq[(Long, Long)] = assignedBack.iterator
      .filter { case (_, _, cl) => probe.contains(cl) }
      .map { case (id, v, _) => (id, cosine(qVec, v)) }
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }
    val bmMap = bmRanks.toMap
    val annMap = annRanks.toMap
    val fusedTop = (bmMap.keySet ++ annMap.keySet).toSeq.map { id =>
      val r0 = bmMap.get(id); val r1 = annMap.get(id)
      val rrf = r0.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        r1.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      (id, r0, r1, rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(10)
      .zipWithIndex.map { case ((id, r0, r1, rrf), i) =>
        (id, (i + 1).toLong, r0, r1, rrf)
      }
    write(fusedTop.toDF("id", "rank", "rank_0", "rank_1", "rrf"),
      "q_hybrid_rrf_ann_pruned")
    // diagnostic for ANN_SWEEP.md: fused-top10 overlap of the pruned
    // (nprobe=4/16) hybrid vs the EXACT hybrid (brute-force dense leg)
    locally {
      val exactAnn = embs.iterator.filter(_._1 != 0L)
        .map { case (id, v) => (id, cosine(qVec, v)) }
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(20)
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
      val exactFused = (bmMap.keySet ++ exactAnn.keySet).toSeq.map { id =>
        val rrf = bmMap.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          exactAnn.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        (id, rrf)
      }.sortBy { case (id, rrf) => (-rrf, id) }.take(10).map(_._1).toSet
      val overlap = fusedTop.count { case (id, _, _, _, _) => exactFused(id) }
      println(s"[golden] q_hybrid_rrf_ann_pruned: fused-top10 overlap vs " +
        s"exact hybrid = $overlap/10 (dense nprobe=4/16)")
    }

    // ---- q_ann_pq: committed PQ codebook + expected ADC top-k ----------
    // The per-subspace k-means fits are the non-replayable step, so the
    // CODEBOOK is the fixture; expected top-10 is a driver-loop encode +
    // ADC over the committed codebook (same arithmetic order as the
    // engine's zip_with/aggregate expressions).
    val pqCb = graft.operators.Similarity.buildPqCodebook(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter($"vec_id" =!= 0L).select("embedding"),
      "embedding", m = 8, k = 16, seed = 42L)
    val cbRows = for {
      s <- 0 until pqCb.m; c <- 0 until pqCb.k
    } yield (s, c, pqCb.centroids(s)(c).toSeq)
    write(cbRows.toDF("sub", "code", "centroid"), "pq_codebook")
    val cb = graft.operators.Similarity.loadPqCodebook(spark,
      s"$outBase/pq_codebook") // exercise the same load path the gate uses
    def encodeOne(v: Seq[Float]): Array[Int] =
      Array.tabulate(cb.m) { s =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.k) {
          var d = 0.0
          var i = 0
          while (i < cb.subDim) {
            val diff = v(s * cb.subDim + i).toDouble - cb.centroids(s)(c)(i)
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict <: first min wins
          c += 1
        }
        best
      }
    val adcTable = Array.tabulate(cb.m) { s =>
      cb.centroids(s).map { c =>
        var d = 0.0
        var i = 0
        while (i < cb.subDim) {
          val diff = qVec(s * cb.subDim + i).toDouble - c(i)
          d += diff * diff
          i += 1
        }
        d
      }
    }
    val pqTop = embs.iterator.filter(_._1 != 0L)
      .map { case (id, v) =>
        val code = encodeOne(v)
        var d = 0.0
        var s = 0
        while (s < cb.m) { d += adcTable(s)(code(s)); s += 1 }
        (id, d)
      }
      .toSeq.sortBy { case (id, d) => (d, id) }.take(10)
    write(pqTop.toDF("id", "adc_dist"), "q_ann_pq")

    // ---- q_ann_ivfpq(_rerank): composed IVF-PQ over the COMMITTED -------
    // fixtures (ivf_index + pq_codebook — no new non-replayable step).
    // Driver loops: nprobe=4 L2 centroid ranking (q_ann_ivf's probe set),
    // candidates = assigned rows in probed clusters, each encoded with
    // encodeOne over the committed codebook, ADC-ranked (dist asc, id).
    // Rerank: ADC shortlist of 50 within the probed clusters, then exact
    // cosine top-10 — both deterministic given the two committed artifacts.
    val ivfPqCands = assignedBack.iterator
      .filter { case (_, _, cl) => probe.contains(cl) }
      .map { case (id, v, _) =>
        val code = encodeOne(v)
        var d = 0.0
        var s = 0
        while (s < cb.m) { d += adcTable(s)(code(s)); s += 1 }
        (id, v, d)
      }.toSeq
    val ivfPqTop = ivfPqCands
      .sortBy { case (id, _, d) => (d, id) }.take(10)
      .map { case (id, _, d) => (id, d) }
    write(ivfPqTop.toDF("id", "adc_dist"), "q_ann_ivfpq")
    val ivfPqShort = ivfPqCands
      .sortBy { case (id, _, d) => (d, id) }.take(50)
    val ivfPqRerank = ivfPqShort
      .map { case (id, v, _) => (id, cosine(qVec, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    write(ivfPqRerank.toDF("vec_id", "cos"), "q_ann_ivfpq_rerank")

    // ---- q_cdc_chunks: content-defined chunking over media payloads ---
    // Blobs come from the SAME payload fixture generator the media rows
    // gate against (lossless codecs, pure-arithmetic rasters); the
    // boundary scan is recomputed here as a PLAIN DRIVER LOOP sharing
    // only the hash primitives (gear table + FNV-1a — the algorithm
    // definitions), so any distribution/explode/boundary bug in the
    // engine's expression fails the gate. Battery params: 64/6/512.
    val blobs: Array[(Long, Array[Byte])] =
      graft.operators.Multimodal.withGradientImagePayload(
          docsDf.select("doc_id"), "doc_id")
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
    val cdcRows = blobs.flatMap { case (id, b) =>
      val minSize = 64; val maskBits = 6; val maxSize = 512
      val mask = (1L << maskBits) - 1L
      val chunks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var start = 0
      var h = 0L
      var i = 0
      while (i < b.length) {
        h = (h << 1) + graft.functions.CdcChunks.gear(b(i) & 0xff)
        val len = i - start + 1
        if ((len >= minSize && (h & mask) == 0L) || len == maxSize) {
          chunks += ((id, start.toLong, len.toLong,
            graft.functions.CdcChunks.fnv1a64(b, start, i + 1)))
          start = i + 1
          h = 0L
        }
        i += 1
      }
      if (start < b.length)
        chunks += ((id, start.toLong, (b.length - start).toLong,
          graft.functions.CdcChunks.fnv1a64(b, start, b.length)))
      chunks
    }
    write(cdcRows.toSeq.toDF("id", "offset", "length", "hash"), "q_cdc_chunks")

    spark.stop()
  }
}
