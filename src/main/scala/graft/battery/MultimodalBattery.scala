package graft

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object MultimodalBattery {
  import Queries.{Q, table}
  import BatteryUtil._

  // The gradient-image corpus of the image rows, through a REAL codec
  // decode into its dHash table — persisted: the hash table feeds BOTH
  // join sides, and without the barrier every side re-encodes and
  // re-decodes the corpus.
  private def imageHashes(s: org.apache.spark.sql.SparkSession, dir: String) =
    Multimodal.dHash64(
      Multimodal.withGradientImagePayload(
        // repartition BEFORE the codec stage: the sf tables are one
        // parquet file → one partition → single-threaded encode/decode;
        // an id-only shuffle is free next to per-item codec work
        table(s, dir, "documents").select("doc_id").repartition(32),
        "doc_id"),
      "doc_id")
      .filter(col("sh").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  // The gradient-image payloads of the chunk-store rows.
  private def imageBlobs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Multimodal.withGradientImagePayload(
      table(s, dir, "documents").select("doc_id").repartition(32),
      "doc_id")


  val queries: Seq[(String, Q)] = Seq(
    // Binary payload column + typed metadata plumbing.
    "q_mm_payload" -> Q(
      (s, dir) => Multimodal.withPayload(table(s, dir, "documents"), "text")
        .select(col("doc_id"), octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("digest"),
          col("media_meta.declared_bytes").as("declared_bytes")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS digest,
             CAST(octet_length(encode(text)) AS BIGINT) AS declared_bytes
             FROM documents""")),

    // FRAME SAMPLING over opaque binary payloads (the format-less legacy
    // slicing shape, [[Multimodal.sampleFrames]]; was spec-only): every
    // 2nd 32-byte frame of each document's UTF-8 payload, lazily demuxed
    // per partition. The oracle recomputes the slicing with substring
    // arithmetic — byte-exact because the fixture text is pure ASCII at
    // every SF (measured: octet_length(encode(text)) == length(text) for
    // all rows at sf0.001/0.01/0.1, so VARCHAR substring IS the byte
    // slice and DuckDB md5 hashes the same UTF-8 bytes — the
    // q_mm_payload precedent). Tail frames arrive short, never padded.
    "q_frame_sample" -> Q(
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.withPayload(table(s, dir, "documents"), "text"),
          "doc_id", "payload", frameBytes = 32, everyNth = 2)
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("n_bytes"),
          md5(col("frame")).as("digest")),
      Some("""
        WITH n AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS nb
                   FROM documents),
        f AS (SELECT doc_id, text, nb,
                unnest(range(0, (nb + 31) // 32, 2)) AS frame_idx FROM n)
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          CAST(length(substring(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS BIGINT) AS n_bytes,
          md5(substring(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS digest
        FROM f""")),

    // REAL codec round-trip: withImagePayload encodes a PNG (even id) /
    // BMP (odd id) with arithmetic dimensions via the JDK's own ImageIO
    // writers; decodeFeatures parses width/height/format back out of the
    // actual byte stream with the matching readers. The oracle recomputes
    // the dimension arithmetic — so a header-parse bug, format confusion,
    // or encoder/decoder disagreement all fail the gate. (n_bytes/checksum
    // are codec-dependent encodings, deliberately not projected.)
    "q_mm_decode" -> Q(
      (s, dir) => Multimodal.decodeFeatures(
        Multimodal.withImagePayload(
          table(s, dir, "documents").select("doc_id"), "doc_id"), "doc_id")
        .select("media_id", "width", "height", "format"),
      Some("""
        SELECT doc_id AS media_id,
          CAST(8 + doc_id % 57 AS INT) AS width,
          CAST(8 + doc_id % 41 AS INT) AS height,
          CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format
        FROM documents""")),

    // IMAGE PERCEPTUAL-HASH NEAR-DUP: deterministic gradient images
    // (pixels are pure integer functions of the id — lossless PNG/BMP, so
    // decoded rasters equal the pattern) → REAL codec decode → integer
    // dHash64 → the SAME pigeonhole Hamming join text SimHash uses. The
    // oracle recomputes the ENTIRE pipeline in SQL from the pattern
    // arithmetic (never touching a codec) and does the exact O(n²)
    // Hamming pair join — so encoder/decoder fidelity, the luminance/
    // downscale/difference-hash arithmetic, AND the blocking join's
    // exactness (pigeonhole recall is provably complete at d ≤ 3) are
    // all gated cross-engine. Same-family variants (doc_id div 4) differ
    // in one 4×4 cell → ≤ 2 bits; cross-family hashes differ by ~24-32.
    "q_image_neardup" -> Q(
      (s, dir) => Dedup.simhashPairsFromTable(imageHashes(s, dir),
        maxDistance = 3)
        .select(col("id1"), col("id2"), col("hamming").cast("int").as("hamming")),
      Some(s"""${imageHashCtes("")}
        SELECT a.id AS id1, b.id AS id2,
          CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM h a JOIN h b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3""")),

    // INCREMENTAL image dedup — the daily-ingest shape for a media lake:
    // the "new batch" (doc_id >= 250) probes the persisted 8-byte-per-item
    // hash index of the "history" (doc_id < 250) via the pigeonhole
    // Hamming join; history is joined, never re-decoded. Same
    // arithmetic-recomputable fixture as q_image_neardup, so the oracle
    // computes both sides' hashes and the exact cross-slice Hamming
    // pairs in pure SQL.
    // CONTENT-DEFINED CHUNKING — the storage-layer dedup rung: Gear
    // rolling-hash boundaries + FNV-1a chunk hashes over the media
    // payloads (min 64 / avg ~128 / max 512 for the ~3.5 KB BMPs).
    // Boundaries and hashes are pure public arithmetic, recomputed by
    // an independent driver loop in GoldenGen (shared primitives: gear
    // table + FNV only). NULL-safe: blobs are non-null here; the spec
    // pins null/empty/short-blob behavior.
    "q_cdc_chunks" -> Q(
      (s, dir) => Dedup.cdcChunkTable(imageBlobs(s, dir),
        "doc_id", "payload", minSize = 64, maskBits = 6, maxSize = 512),
      golden("q_cdc_chunks")),

    // The storage-dedup headline over the same chunk table: logical vs
    // stored bytes under (hash, length)-keyed chunk dedup. Oracle:
    // plain SQL aggregation over the COMMITTED chunk fixture — the
    // engine recomputes the chunks, the oracle only has to re-aggregate
    // them, so a chunking bug fails q_cdc_chunks and a stats bug fails
    // here.
    "q_storage_dedup" -> Q(
      (s, dir) => Dedup.cdcDedupStats(Dedup.cdcChunkTable(imageBlobs(s, dir),
        "doc_id", "payload", minSize = 64, maskBits = 6, maxSize = 512)),
      Some("""
        WITH g AS (SELECT hash, length, CAST(count(*) AS BIGINT) AS n
                   FROM read_parquet(
                     '/root/repo/src/test/resources/golden/q_cdc_chunks/*.parquet')
                   GROUP BY 1, 2)
        SELECT CAST(sum(n * length) AS BIGINT) AS logical_bytes,
               CAST(sum(length) AS BIGINT) AS stored_bytes,
               CAST(sum(n) AS BIGINT) AS n_chunks,
               CAST(count(*) AS BIGINT) AS n_unique_chunks,
               CAST(sum(n * length) - sum(length) AS BIGINT) AS saved_bytes
        FROM g""")),

    // INCREMENTAL storage dedup — the daily-ingest shape for the chunk
    // store: a FIXED 250-blob batch (doc_id in [250, 500) — constant at
    // every SF, the row-design lesson of SCALE.md's "Round-12
    // streaming-loop probe": inputs constant in production must be
    // constant in the row) probes the persisted (hash, length) index of
    // everything else, which GROWS with the corpus; every batch chunk is
    // annotated hit (in history) / first (new key's first occurrence —
    // the chunk a store writes) / dup (intra-batch repeat). History is
    // scanned never shuffled (batch keys broadcast into a left-semi probe
    // — the incrementalHammingPairs plan; SCALE.md "Incremental CDC
    // storage dedup" records the probe flat across 100× history).
    // Oracle: re-derives the same labels from the COMMITTED chunk
    // fixture (ids 0..499 at sf0.01, so the split is identical there) —
    // the engine recomputes both sides' chunks, the oracle only
    // re-labels.
    "q_cdc_incremental" -> Q(
      (s, dir) => {
        val blobs = imageBlobs(s, dir)
        val history = Dedup.cdcChunkTable(
          blobs.filter(col("doc_id") < 250 || col("doc_id") >= 500),
          "doc_id", "payload", minSize = 64, maskBits = 6, maxSize = 512)
        Dedup.incrementalCdcChunks(
          blobs.filter(col("doc_id") >= 250 && col("doc_id") < 500),
          "doc_id", "payload", history,
          minSize = 64, maskBits = 6, maxSize = 512)
      },
      Some("""
        WITH all_c AS (SELECT * FROM read_parquet(
            '/root/repo/src/test/resources/golden/q_cdc_chunks/*.parquet')),
        hist AS (SELECT DISTINCT hash, length FROM all_c
                 WHERE id < 250 OR id >= 500),
        batch AS (SELECT *, row_number() OVER (PARTITION BY hash, length
              ORDER BY id, "offset") AS rn
            FROM all_c WHERE id >= 250 AND id < 500)
        SELECT b.id, b."offset" AS "offset", b.length, b.hash,
          CASE WHEN h.hash IS NOT NULL THEN 'hit'
               WHEN b.rn = 1 THEN 'first' ELSE 'dup' END AS status
        FROM batch b LEFT JOIN hist h
          ON b.hash = h.hash AND b.length = h.length""")),

    "q_image_incremental" -> Q(
      (s, dir) => {
        val hashed = imageHashes(s, dir)
        Dedup.incrementalHammingPairs(
          hashed.filter(col("id") >= 250), hashed.filter(col("id") < 250),
          maxDistance = 3)
          .select(col("new_id"), col("old_id"),
            col("hamming").cast("int").as("hamming"))
      },
      Some(s"""${imageHashCtes("")}
        SELECT a.id AS new_id, b.id AS old_id,
          CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM h a JOIN h b ON a.id >= 250 AND b.id < 250
        WHERE bit_count(xor(a.sh, b.sh)) <= 3""")),

    // The image pair pipeline through the GUARDED mode
    // (maxBucket > 0): exact-hash cliques collapse to min-id STAR edges,
    // the pigeonhole join runs over DISTINCT hashes, (chunk, cv) groups
    // above the cap are skipped (never triggered at this corpus size —
    // the cap path is spec-gated adversarially). The oracle recomputes
    // the certificate exactly: hash table from the pattern arithmetic →
    // per-hash min-id stars → distinct-hash chunk join with the same
    // group-cap filter. Gates cross-engine that guarded mode is a
    // faithful connectivity certificate, not just a spec claim.
    "q_image_neardup_guarded" -> Q(
      (s, dir) => Dedup.simhashPairsFromTable(imageHashes(s, dir),
        maxDistance = 3, maxBucket = 1000)
        .select(col("id1"), col("id2"), col("hamming").cast("int").as("hamming")),
      Some(s"""${imageHashCtes("")},
        reps AS (SELECT sh, min(id) AS rid FROM h GROUP BY 1),
        stars AS (
          SELECT r.rid AS id1, h.id AS id2, 0 AS hamming
          FROM h JOIN reps r ON h.sh = r.sh AND h.id > r.rid),
        chunked AS (
          SELECT rid, sh, c.range AS chunk, (sh >> (c.range*16)) & 65535 AS cv
          FROM reps, range(4) c),
        kept AS (
          SELECT chunk, cv FROM chunked GROUP BY 1, 2 HAVING count(*) <= 1000),
        cand AS (
          SELECT DISTINCT a.rid AS id1, b.rid AS id2, a.sh AS sh1, b.sh AS sh2
          FROM chunked a
          JOIN kept k ON k.chunk = a.chunk AND k.cv = a.cv
          JOIN chunked b ON b.chunk = a.chunk AND b.cv = a.cv AND a.rid < b.rid)
        SELECT id1, id2, CAST(hamming AS INT) AS hamming FROM (
          SELECT id1, id2, hamming FROM stars
          UNION ALL
          SELECT id1, id2, bit_count(xor(sh1, sh2)) AS hamming
          FROM cand WHERE bit_count(xor(sh1, sh2)) <= 3)""")),

    // VIDEO NEAR-DUP — the composition completing the media family: 8
    // lossless BMP gradient frames per clip (frame f of clip id = the
    // gradient pattern of effective id ((id div 4)·8 + f)·4 + id mod 4)
    // → stub demux + every-2nd temporal sampling → per-frame dHash →
    // ALIGNED pigeonhole Hamming join (frame position in the bucket key:
    // only frame k meets frame k) → clip verdict at ≥ half the aligned
    // frames matching. The oracle recomputes every sampled frame's hash
    // from the pattern arithmetic and the exact aligned pair counts in
    // pure SQL — codec fidelity, demux boundaries, the per-frame hash,
    // the aligned join, and the fraction verdict all gate cross-engine.
    // VIDEO CONTAINMENT — the unaligned, DIRECTED complement of the
    // near-dup row: the corpus gains real TRIMMED clips (every doc_id
    // divisible by 4, re-keyed at +2^40, whose 4-frame payload carries
    // source frames 2..5 under the source's 8-frame indexing), and a
    // clip is reported contained when >= 3/4 of its sampled frames match
    // SOME container frame within Hamming 3 at ANY position — the
    // highlight-cut / shortened-re-upload relation the aligned join
    // structurally misses. The oracle recomputes every sampled frame's
    // content id (trimmed payload frame j = source frame j+2), the dHash
    // arithmetic over DISTINCT contents, the unaligned O(n^2) Hamming
    // match, and the directed fraction verdict in pure SQL.
    "q_video_containment" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id")
        val base = Multimodal.withVideoPayload(docs.repartition(32),
          "doc_id", nFrames = 8)
        val trimmed = Multimodal.withVideoPayload(
            docs.filter(col("doc_id") % 4 === 0).repartition(32),
            "doc_id", nFrames = 4, frameOffset = 2, indexFrames = 8)
          .withColumn("doc_id", col("doc_id") + lit(1099511627776L))
        Multimodal.videoContainmentPairs(base.unionByName(trimmed), "doc_id",
          everyNth = 2, maxDistance = 3, minContainFrac = 0.75)
      },
      Some(s"""
        WITH fr AS (
          SELECT doc_id AS id, ((doc_id//4)*8 + f.range)*4 + doc_id%4 AS e
          FROM documents, range(0, 8, 2) f
          UNION ALL
          SELECT doc_id + 1099511627776 AS id,
                 ((doc_id//4)*8 + j.range + 2)*4 + doc_id%4 AS e
          FROM documents, range(0, 4, 2) j
          WHERE doc_id % 4 = 0),
        es AS (SELECT DISTINCT e FROM fr),${dHashCtes("es", Seq("e"), "e", "h0")},
        h AS (SELECT fr.id, fr.e, h0.sh FROM fr JOIN h0 ON h0.e = fr.e),
        nf AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
        m AS (
          SELECT a.id AS id1, b.id AS id2,
                 CAST(count(DISTINCT b.e) AS BIGINT) AS n_matched
          FROM h a JOIN h b ON a.id <> b.id
          WHERE bit_count(xor(a.sh, b.sh)) <= 3
          GROUP BY 1, 2)
        SELECT id1 AS container_id, id2 AS contained_id, n_matched,
               n.n AS n_frames
        FROM m JOIN nf n ON n.id = m.id2
        WHERE CAST(n_matched AS DOUBLE) >= 0.75 * CAST(n.n AS DOUBLE)""")),

    "q_video_neardup" -> Q(
      (s, dir) => Multimodal.videoNearDupPairs(
        Multimodal.withVideoPayload(
          table(s, dir, "documents").select("doc_id").repartition(32),
          "doc_id", nFrames = 8),
        "doc_id", everyNth = 2, maxDistance = 3, minMatchFrac = 0.5),
      Some(s"""${videoMatchCtes("", "n_matched")}
        SELECT id1, id2, n_matched, least(n1.n, n2.n) AS n_frames
        FROM m JOIN nf n1 ON n1.id = m.id1 JOIN nf n2 ON n2.id = m.id2
        WHERE CAST(n_matched AS DOUBLE) >= 0.5 * CAST(least(n1.n, n2.n) AS DOUBLE)""")),

    // AUDIO FINGERPRINT NEAR-DUP — the audio modality through the same
    // pigeonhole Hamming join: deterministic 16-bit PCM WAV tones (every
    // sample a pure integer function of the id; PCM is lossless) → REAL
    // javax.sound decode → integer window-energy difference hash →
    // simhashPairsFromTable. The oracle recomputes samples, energies,
    // hash, and the exact O(n²) Hamming pairs from arithmetic alone, so
    // WAV writer+reader fidelity and the fingerprint arithmetic are both
    // gated cross-engine.
    "q_audio_neardup" -> Q(
      (s, dir) => Dedup.simhashPairsFromTable(
        // persisted for the same both-join-sides reason as q_image_neardup
        Multimodal.audioFingerprint64(
          Multimodal.withToneAudioPayload(
            // NO repartition here (unlike the image row): measured at
            // sf0.1, 32-way parallel javax.sound decode is ~1.5× SLOWER
            // than the single-partition run — the provider path
            // serializes internally — so spreading the rows just adds a
            // shuffle. Revisit if the JDK's sound stack loses its lock.
            table(s, dir, "documents").select("doc_id"),
            "doc_id"),
          "doc_id")
          .filter(col("sh").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        maxDistance = 3)
        .select(col("id1"), col("id2"), col("hamming").cast("int").as("hamming")),
      Some(s"""
        WITH ids AS (SELECT doc_id AS id FROM documents),
        samp AS (
          SELECT id, t.range AS t,
            abs((((id//4%2048)*31 + 7) * (t.range + 1)
                 + (id//4//2048%2048)*53*(t.range+3)*(t.range+5)
                 + 3*t.range*t.range*t.range
                 + CASE WHEN id%4 > 0 AND t.range//32 = id%4 THEN 600 ELSE 0 END)
                % 4096 - 2048) AS a
          FROM ids, range(2080) t),
        en AS (SELECT id, t//32 AS w, SUM(a) AS e FROM samp GROUP BY 1, 2),
        bits AS (
          SELECT a.id, a.w AS b FROM en a JOIN en b2
            ON a.id = b2.id AND b2.w = a.w + 1
          WHERE a.w < 64 AND b2.e > a.e),
        hraw AS (
          SELECT id, SUM(CAST(1 AS HUGEINT) << CAST(b AS INT)) AS s
          FROM bits GROUP BY id),
        h AS (SELECT ids.id,
            $signedHashSql
          FROM ids LEFT JOIN hraw ON hraw.id = ids.id)
        SELECT a.id AS id1, b.id AS id2,
          CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM h a JOIN h b ON a.id < b.id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3""")),
  )
}
