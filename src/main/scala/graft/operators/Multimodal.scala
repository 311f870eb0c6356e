package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extracted per-item features of a decoded media payload. */
final case class MediaFeatures(
    media_id: Long,
    n_bytes: Long,
    checksum: Long,
    width: Int,
    height: Int,
    format: String)

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded/feature-extracted per partition.
  *
  * Image decode is REAL — `javax.imageio` (PNG/BMP/JPEG/GIF ship with the
  * JDK) parses the payload header inside the per-partition iterator, so
  * width/height/format come from the actual codec, and a corrupt payload
  * degrades to a sentinel row instead of failing the job. Video is REAL
  * too since round 15: [[encodeAvi]]/[[demuxAviFrames]] write and walk an
  * actual RIFF/AVI container in pure JDK (the same RIFF discipline as the
  * audio rung's WAV walk), with lossless '00db' DIB frames so the SQL
  * oracles stay arithmetic-recomputable; only [[sampleFrames]]' fixed-size
  * slicing remains as the documented legacy stub for format-less blobs.
  */
object Multimodal {

  /** Attach an opaque binary payload column + typed metadata struct — the
    * canonical multimodal table shape (`payload binary, media_meta struct`).
    * Here the payload is the UTF-8 encoding of a text column (the container
    * has no real media), but nothing downstream depends on that.
    */
  def withPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("media_meta", struct(
        lit("text/plain").as("mime"),
        octet_length(col(textCol)).cast("long").as("declared_bytes")))

  /** Attach a REAL image payload: a deterministic solid-color PNG (even
    * id) or BMP (odd id) whose dimensions are pure functions of the id —
    * `width = 8 + id mod 57`, `height = 8 + id mod 41` — encoded with the
    * JDK's own codecs once per row, per partition. The arithmetic
    * dimensions are the point: a SQL oracle can recompute them, so the
    * [[decodeFeatures]] round-trip (real encoder → real header parse) is
    * gateable end-to-end without a golden fixture.
    */
  def withImagePayload(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"))
      .as[Long]
      .mapPartitions { ids =>
        // one encoder context per partition (ImageIO plugin lookup is
        // per-call cheap, but the no-disk-cache switch is global)
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = 8 + math.floorMod(id, 57L).toInt
          val h = 8 + math.floorMod(id, 41L).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (math.floorMod(id * 0x9e3779b9L, 0xffffffL)).toInt
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val fmt = if (id % 2 == 0) "png" else "bmp"
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, fmt, out)
          (id, out.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }

  /** Per-partition REAL decode + feature extraction over the binary
    * payload: `javax.imageio` finds a reader for the byte stream and
    * parses width/height/format FROM THE HEADER — no full pixel decode,
    * which is the production shape (dimension/format audits over a media
    * lake read headers, not rasters; full decode belongs to the consumer
    * that needs pixels). A payload no JDK reader recognizes (corrupt
    * bytes, unsupported codec, truncated header) yields the sentinel
    * `(width = -1, height = -1, format = "invalid")` — one bad blob must
    * never kill a 100 TB scan. `checksum` is an FNV-1a of the raw bytes
    * (content audit), `n_bytes` the payload size.
    */
  def decodeFeatures(df: DataFrame, idCol: String, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batches =>
        javax.imageio.ImageIO.setUseCache(false) // header parse stays in-memory
        batches.map { case (id, bytes) => decodeImage(id, bytes) }
      }
      .toDF()
  }

  /** Header-only image parse via the JDK codecs; sentinel on any failure. */
  private def decodeImage(id: Long, bytes: Array[Byte]): MediaFeatures = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    val invalid = MediaFeatures(id, bytes.length.toLong, h, -1, -1, "invalid")
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) invalid
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            MediaFeatures(id, bytes.length.toLong, h,
              r.getWidth(0), r.getHeight(0),
              r.getFormatName.toLowerCase(java.util.Locale.ROOT))
          } finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => invalid }
  }

  /** Frame sampling over a video-like binary payload: emit every
    * `everyNth` fixed-size frame as its own row (media_id, frame_idx,
    * frame) — the demux → sample → one-row-per-frame shape a real video
    * pipeline needs before per-frame feature extraction.
    *
    * The "demuxer" is the same documented stub class as [[decodeFeatures]]
    * (fixed `frameBytes` slices stand in for codec frame boundaries); the
    * Spark plumbing is the real contract: a per-partition iterator that
    * FLATMAPS frames out lazily — one demuxer init per partition, no
    * buffering of a whole video's frames in memory, rows stream straight
    * into the downstream columnar batch.
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String = "payload",
                   frameBytes: Int = 32, everyNth: Int = 2): DataFrame = {
    require(frameBytes > 0 && everyNth > 0, "frameBytes and everyNth must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { items =>
        // real demuxer/native context init would happen once per partition
        items.flatMap { case (id, bytes) =>
          val nFrames = (bytes.length + frameBytes - 1) / frameBytes
          Iterator.range(0, nFrames, everyNth).map { f =>
            val from = f * frameBytes
            (id, f.toLong, java.util.Arrays.copyOfRange(
              bytes, from, math.min(from + frameBytes, bytes.length)))
          }
        }
      }
      .toDF(idCol, "frame_idx", "frame")
  }

  /** Attach a DETERMINISTIC GRADIENT image payload whose every pixel is a
    * pure integer function of the id — the fixture that makes perceptual
    * hashing ([[dHash64]]) gateable against a pure-SQL oracle, because
    * PNG/BMP are lossless: decoded pixels equal the pattern, so an
    * independent engine can recompute the hash from arithmetic alone,
    * never touching a codec.
    *
    * Pattern (36×32, 8-bit gray replicated into RGB):
    *   k = id div 4 (family), v = id mod 4 (variant),
    *   a = k mod 256, b = (k div 256) mod 256
    *   gray(x,y) = (7x² + 13y² + a·31·(x+1)(y+1) + b·53·(x+2)(y+3)
    *                + (64 if v > 0 and x div 4 == v and y div 4 == v)) mod 256
    * Same-family variants differ in ONE 4×4 cell → ≤ 2 dHash bits. The
    * quadratic terms + TWO family coefficients matter: a plain linear
    * gradient's dHash depends on k only through k mod 256, so thousands
    * of families alias onto ~256 hash patterns and the Hamming join's
    * chunk groups go quadratic (measured: 310k candidate pairs at 5k
    * images vs 28k with this pattern) — the fixture must carry real
    * entropy or it measures a pathological corpus, not the operator.
    * Even ids encode PNG, odd BMP (both lossless — the hash must be
    * codec-independent).
    */
  def withGradientImagePayload(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        // ONE codec context per partition: ImageIO.write re-scans the
        // plugin registry per call, which dominates small-image encode —
        // reuse a writer per format across the partition's rows instead
        def writerFor(fmt: String) = {
          val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
          require(it.hasNext, s"no $fmt writer"); it.next()
        }
        val writers = Map("png" -> writerFor("png"), "bmp" -> writerFor("bmp"))
        ids.map { id =>
          val px = gradientPixels(id)
          val img = new java.awt.image.BufferedImage(
            36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, 36, 32, px, 0, 36) // one bulk raster write, not w·h calls
          val out = new java.io.ByteArrayOutputStream()
          val wtr = writers(if (id % 2 == 0) "png" else "bmp")
          val ios = javax.imageio.ImageIO.createImageOutputStream(out)
          try { wtr.setOutput(ios); wtr.write(img) } finally ios.close()
          (id, out.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }

  /** The 36×32 gradient raster for a pattern id — the arithmetic the
    * image AND video fixtures share (family = id div 4, variant = id
    * mod 4; the variant bumps one 4×4 cell, so same-family hashes sit
    * within a few bits).
    */
  private def gradientPixels(id: Long): Array[Int] = {
    val (w, h) = (36, 32)
    val k = java.lang.Math.floorDiv(id, 4L)
    val v = java.lang.Math.floorMod(id, 4L).toInt
    val a = java.lang.Math.floorMod(k, 256L)
    val bcoef = java.lang.Math.floorMod(k / 256L, 256L)
    // third coefficient widens the distinct-pattern space to 2^24
    // families: two coefficients alias at 65,536, which a derived sf10
    // corpus (500k clips) exceeds — the aliasing fabricated exact
    // cross-replica clip duplicates and a quadratic pair blow-up (the
    // same lesson as r11's every-3rd-token tagging). ccoef = 0 for every
    // id < 2^18, so gate-scale (sf0.01/sf0.1) hashes and oracles are
    // bit-for-bit unchanged.
    val ccoef = java.lang.Math.floorMod(k / 65536L, 256L)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bump = if (v > 0 && x / 4 == v && y / 4 == v) 64L else 0L
        val g = java.lang.Math.floorMod(
          7L * x * x + 13L * y * y + a * 31L * (x + 1) * (y + 1) +
            bcoef * 53L * (x + 2) * (y + 3) +
            ccoef * 17L * (x + 3) * (y + 5) + bump, 256L).toInt
        px(y * w + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    px
  }

  /** 64-bit PERCEPTUAL HASH (dHash, the difference-hash of Krawetz's
    * pHash family): full pixel decode via the JDK codecs → integer
    * luminance (299r + 587g + 114b) div 1000 → area-average downscale to
    * a 9×8 grid (integer cell boundaries `g·dim div 9`, floor-div
    * average) → bit (gy·8 + gx) set iff cell(gx+1, gy) > cell(gx, gy).
    * Pure integer arithmetic end-to-end, so the hash is bit-reproducible
    * on any engine. Undecodable payloads hash to NULL (one bad blob
    * never kills the scan); callers filter nulls before pair blocking.
    *
    * Output (id, sh) feeds [[Dedup.simhashPairsFromTable]] directly —
    * image near-dup detection is the SAME pigeonhole Hamming join as
    * text SimHash, which is exactly how a 100 TB media lake dedups:
    * hash per partition (embarrassingly parallel), then the banded
    * equi-join; never pixels through a shuffle.
    */
  /** The dHash of one decoded payload — the per-item kernel [[dHash64]]
    * and [[videoFrameHashes]] share: ImageIO decode → integer luminance →
    * 8×9 area-average cells → 64 horizontal difference bits. None for
    * undecodable or sub-9×8 payloads.
    */
  private def dHashBytes(bytes: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth < 9 || img.getHeight < 8) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, w, h, null, 0, w) // one bulk raster read
        val cells = Array.ofDim[Long](8, 9) // [gy][gx]
        var gy = 0
        while (gy < 8) {
          val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
          var gx = 0
          while (gx < 9) {
            val x0 = gx * w / 9; val x1 = (gx + 1) * w / 9
            var sum = 0L; var n = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = px(y * w + x)
                val lum = (299L * ((rgb >> 16) & 0xff) +
                  587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
                sum += lum; n += 1
                x += 1
              }
              y += 1
            }
            cells(gy)(gx) = if (n == 0) 0L else sum / n
            gx += 1
          }
          gy += 1
        }
        var bitsAcc = 0L
        var b = 0
        while (b < 64) {
          val (bgy, bgx) = (b / 8, b % 8)
          if (cells(bgy)(bgx + 1) > cells(bgy)(bgx)) bitsAcc |= (1L << b)
          b += 1
        }
        Some(bitsAcc)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def dHash64(df: DataFrame, idCol: String, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { items =>
        javax.imageio.ImageIO.setUseCache(false)
        items.map { case (id, bytes) => (id, dHashBytes(bytes)) }
      }
      .toDF(idCol, "sh")
      .select(col(idCol).as("id"), col("sh"))
  }

  /** Attach a DETERMINISTIC TONE audio payload — the audio sibling of
    * [[withGradientImagePayload]]: 16-bit mono PCM WAV (8 kHz, 2080
    * frames = 65 windows × 32 samples) whose every sample is a pure
    * integer function of the id, so the codec round-trip is lossless and
    * a pure-SQL oracle can recompute [[audioFingerprint64]] from
    * arithmetic alone:
    *
    *   k = id div 4 (family), v = id mod 4 (variant),
    *   a = k mod 2048, b = (k div 2048) mod 2048
    *   raw(t) = ((a·31 + 7)·(t + 1) + b·53·(t + 3)(t + 5) + 3t³
    *             + (600 if v > 0 and t div 32 == v)) mod 4096 − 2048
    *
    * Same-family variants perturb ONE 32-sample window → ≤ 2
    * fingerprint bits. The cubic term + two family coefficients carry
    * the entropy a plain sawtooth lacks (a linear tone's fingerprint
    * depends on k only mod the wrap period — families alias, Hamming
    * chunk groups go quadratic; measured 168k → 31k candidate pairs at
    * 5k clips with this pattern).
    */
  def withToneAudioPayload(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val frames = 2080
          val k = java.lang.Math.floorDiv(id, 4L)
          val v = java.lang.Math.floorMod(id, 4L).toInt
          val a = java.lang.Math.floorMod(k, 2048L)
          val bcoef = java.lang.Math.floorMod(k / 2048L, 2048L)
          val pcm = new Array[Byte](frames * 2)
          var t = 0
          while (t < frames) {
            val bump = if (v > 0 && t / 32 == v) 600L else 0L
            val s = (java.lang.Math.floorMod(
              (a * 31L + 7L) * (t + 1L) + bcoef * 53L * (t + 3L) * (t + 5L) +
                3L * t * t * t + bump, 4096L) - 2048L).toInt
            pcm(2 * t) = (s & 0xff).toByte            // little-endian int16
            pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
            t += 1
          }
          // spec-conformant RIFF/WAVE header composed directly (44 bytes,
          // PCM fmt chunk + data chunk): byte-identical content to what
          // AudioSystem.write produces for this format, ~10× cheaper per
          // payload; [[audioFingerprint64]]'s pure parser demuxes it, and
          // the parser==javax.sound parity spec pins both decoders to the
          // same samples on these very payloads
          val wav = new Array[Byte](44 + pcm.length)
          def le32(off: Int, v: Int): Unit = {
            wav(off) = (v & 0xff).toByte; wav(off + 1) = ((v >> 8) & 0xff).toByte
            wav(off + 2) = ((v >> 16) & 0xff).toByte; wav(off + 3) = ((v >> 24) & 0xff).toByte
          }
          def le16(off: Int, v: Int): Unit = {
            wav(off) = (v & 0xff).toByte; wav(off + 1) = ((v >> 8) & 0xff).toByte
          }
          def tag(off: Int, s: String): Unit = {
            val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, wav, off, 4)
          }
          tag(0, "RIFF"); le32(4, 36 + pcm.length); tag(8, "WAVE")
          tag(12, "fmt "); le32(16, 16); le16(20, 1 /* PCM */); le16(22, 1 /* mono */)
          le32(24, 8000); le32(28, 16000 /* byte rate */); le16(32, 2 /* block */); le16(34, 16)
          tag(36, "data"); le32(40, pcm.length)
          System.arraycopy(pcm, 0, wav, 44, pcm.length)
          (id, wav)
        }
      }
      .toDF(idCol, "payload")
  }

  /** Result of the pure RIFF/WAVE chunk walk ([[parseRiffWav]]). */
  private[operators] sealed trait RiffParse
  private[operators] object RiffParse {
    /** PCM16 mono payload: `data` is the raw little-endian sample bytes. */
    final case class Pcm16Mono(data: Array[Byte]) extends RiffParse
    /** Well-formed RIFF/WAVE whose format the fingerprint rejects
      * (compressed, multi-channel, or non-16-bit) — hash NULL without
      * touching the provider registry: the provider path would decode to
      * the same rejection for everything the JDK ships.
      */
    case object Rejected extends RiffParse
    /** Not a RIFF/WAVE container (or truncated mid-chunk) — fall back to
      * the `javax.sound` provider path, which also handles AIFF/AU.
      */
    case object NotRiff extends RiffParse
  }

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def tag4(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Pure RIFF/WAVE parser for the PCM16-mono subset the fingerprint
    * accepts: `"RIFF" <size> "WAVE"` then word-aligned `<id><size>` chunks
    * (Microsoft/IBM WAVE layout); `fmt ` must carry audioFormat=1 (PCM),
    * channels=1, bits=16, and `data` holds the little-endian samples.
    * ~40 lines of plain byte arithmetic, no `javax.sound` — the JDK's
    * AudioFileReader SPI resolves through a JVM-GLOBAL synchronized
    * registry, measured to SERIALIZE 32 concurrent decode tasks (a fat
    * multi-core executor decodes one item at a time regardless of
    * parallelism); this parser is lock-free and embarrassingly parallel.
    * WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrappers defer to the provider path
    * rather than re-implementing the sub-format dance.
    */
  private[operators] def parseRiffWav(bytes: Array[Byte]): RiffParse = {
    if (bytes.length < 12 || tag4(bytes, 0) != "RIFF" || tag4(bytes, 8) != "WAVE")
      return RiffParse.NotRiff
    var off = 12
    var fmtSeen = false
    var fmtOk = false
    var data: Array[Byte] = null
    while (off + 8 <= bytes.length && data == null) {
      val id = tag4(bytes, off)
      val sz = le32(bytes, off + 4)
      // Long arithmetic: a crafted size near 2^31 overflows the Int sum
      // to negative and would sneak past an Int-typed bounds check, then
      // throw in copyOfRange — a corrupt payload must hash NULL, not
      // kill the stage
      if (sz < 0 || off.toLong + 8L + sz > bytes.length) return RiffParse.NotRiff
      if (id == "fmt " && sz >= 16) {
        fmtSeen = true
        val audioFormat = le16(bytes, off + 8)
        if (audioFormat == 0xFFFE) return RiffParse.NotRiff
        fmtOk = audioFormat == 1 /* PCM */ &&
          le16(bytes, off + 10) == 1 /* mono */ &&
          le16(bytes, off + 22) == 16 /* bits */
      } else if (id == "data") {
        if (!fmtSeen) return RiffParse.NotRiff // data before fmt: malformed
        data = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + sz)
      }
      off += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (data == null) RiffParse.NotRiff
    else if (fmtOk) RiffParse.Pcm16Mono(data)
    else RiffParse.Rejected
  }

  /** The 65-window energy difference hash over raw 16-bit samples —
    * shared by the pure-parser and provider decode paths, so both are
    * sample-for-sample identical by construction past the demux.
    * Returns None for clips shorter than 65 frames.
    */
  private[operators] def fingerprint64FromPcm(raw: Array[Byte], nFrames: Int,
                                              bigEndian: Boolean): Option[Long] = {
    val n = math.min(nFrames, raw.length / 2)
    if (n < 65) None
    else {
      val energy = new Array[Long](65)
      var w = 0
      while (w < 65) {
        val t0 = w * n / 65; val t1 = (w + 1) * n / 65
        var e = 0L
        var t = t0
        while (t < t1) {
          val lo = raw(2 * t) & 0xff
          val hi = raw(2 * t + 1).toInt // sign-extends
          val s = if (bigEndian) (lo << 8) | (hi & 0xff) else (hi << 8) | lo
          val s16 = s.toShort.toInt
          e += math.abs(s16.toLong)
          t += 1
        }
        energy(w) = e
        w += 1
      }
      var acc = 0L
      var b = 0
      while (b < 64) {
        if (energy(b + 1) > energy(b)) acc |= (1L << b)
        b += 1
      }
      Some(acc)
    }
  }

  /** 64-bit AUDIO FINGERPRINT (difference hash over window energies —
    * the Shazam/Chromaprint idea reduced to its integer skeleton):
    * PCM16-mono WAV demuxed by the pure [[parseRiffWav]] byte walk →
    * signed 16-bit samples → 65 windows with integer boundaries
    * `w·frames div 65` → per-window energy Σ|sample| → bit b set iff
    * E(b+1) > E(b). Pure integer arithmetic end-to-end, so the hash is
    * bit-reproducible on any engine. Non-PCM16/mono or undecodable
    * payloads hash to NULL.
    *
    * The hot path deliberately avoids `javax.sound.sampled`: its
    * AudioFileReader SPI holds a JVM-global lock that serializes decode
    * across ALL cores of an executor (measured: 32-way parallel decode
    * SLOWER than one partition). The provider path survives only as the
    * fallback for non-RIFF containers (AIFF/AU), resolved lazily once
    * per partition, so a pure-WAV corpus never touches the registry.
    *
    * Output (id, sh) feeds [[Dedup.simhashPairsFromTable]] — audio
    * near-dup detection rides the SAME pigeonhole Hamming join as text
    * SimHash and image dHash: hash per partition, band-join the 8-byte
    * codes, never samples through a shuffle.
    */
  def audioFingerprint64(df: DataFrame, idCol: String, payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { items =>
        // provider list for the non-RIFF fallback, resolved at most once
        // per partition and only if a non-WAV payload actually appears
        lazy val readers = {
          val it = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[javax.sound.sampled.spi.AudioFileReader]
          while (it.hasNext) buf += it.next()
          buf.toList
        }
        def providerDecode(bytes: Array[Byte]): Option[Long] =
          try {
            val stream = new java.io.ByteArrayInputStream(bytes)
            val ais = readers.iterator.flatMap { r =>
              stream.reset()
              try Some(r.getAudioInputStream(stream))
              catch { case _: javax.sound.sampled.UnsupportedAudioFileException => None }
            }.nextOption().getOrElse(
              throw new javax.sound.sampled.UnsupportedAudioFileException("no provider"))
            try {
              val f = ais.getFormat
              val frames = ais.getFrameLength.toInt
              if (f.getChannels != 1 || f.getSampleSizeInBits != 16 ||
                  f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
                None
              else fingerprint64FromPcm(ais.readAllBytes(), frames, f.isBigEndian)
            } finally ais.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        items.map { case (id, bytes) =>
          val sh: Option[Long] = parseRiffWav(bytes) match {
            case RiffParse.Pcm16Mono(data) =>
              fingerprint64FromPcm(data, data.length / 2, bigEndian = false)
            case RiffParse.Rejected => None
            case RiffParse.NotRiff  => providerDecode(bytes)
          }
          (id, sh)
        }
      }
      .toDF(idCol, "sh")
      .select(col(idCol).as("id"), col("sh"))
  }

  // --- video near-dup -----------------------------------------------------

  /** Byte length of one fixture frame: BMP of the 36×32 TYPE_INT_RGB
    * raster is a FIXED-SIZE encoding (54-byte header + 36·3·32 pixel
    * bytes, row stride already word-aligned) — the boundary arithmetic of
    * the LEGACY fixed-size slicing path ([[sampleFrames]], and
    * [[videoFrameHashes]]' fallback for non-AVI payloads). Real AVI
    * payloads carry their frame boundaries in the container
    * ([[demuxAviFrames]]). Computed once per JVM by encoding a probe
    * frame — never hard-coded against the writer's header choices.
    */
  lazy val videoFrameBytes: Int = encodeBmp(gradientPixels(0L)).length

  private def encodeBmp(px: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 36, 32, px, 0, 36)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "bmp", out)
    out.toByteArray
  }

  // --- AVI (RIFF) container: writer + demuxer ----------------------------
  // AVI is the same RIFF layout the audio rung already walks (WAV), which
  // is what made a pure-JDK demux feasible: chunks are (fourcc, LE32 size,
  // data, even-pad); an AVI file is RIFF('AVI ') holding LIST('hdrl')
  // (avih + one LIST('strl') per stream) and LIST('movi') whose '00db'
  // chunks carry uncompressed DIB frames — the lossless frame encoding
  // that keeps every video oracle arithmetic-recomputable (an MJPG '00dc'
  // path would be lossy and break the SQL mirrors; the demuxer still
  // passes '00dc' payloads through to ImageIO for real MJPEG files).

  private def le32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }
  private def fcc(out: java.io.ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes("ISO-8859-1"), 0, 4)
  private def chunk(out: java.io.ByteArrayOutputStream, id: String,
                    data: Array[Byte]): Unit = {
    fcc(out, id); le32(out, data.length)
    out.write(data, 0, data.length)
    if ((data.length & 1) == 1) out.write(0) // RIFF even-pad
  }

  /** Pack BMP-encoded frames into a REAL AVI container: RIFF('AVI ') with
    * a standard 56-byte `avih`, one 'vids'/'DIB ' stream header whose
    * `strf` is the first frame's BITMAPINFOHEADER, '00db' frame chunks
    * holding each BMP's DIB (the file minus its 14-byte BITMAPFILEHEADER
    * — the standard uncompressed-AVI frame payload), and an `idx1` index
    * (offsets relative to the 'movi' fourcc, AVIIF_KEYFRAME on every
    * frame — DIB frames are all keyframes). Any AVI-aware tool demuxes
    * the result; [[demuxAviFrames]] is the read side.
    */
  def encodeAvi(frames: Seq[Array[Byte]], fps: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "encodeAvi: no frames")
    require(fps > 0, "encodeAvi: fps must be positive")
    val dibs = frames.map { bmp =>
      require(bmp.length > 54 && bmp(0) == 'B' && bmp(1) == 'M',
        "encodeAvi: frames must be BMP files")
      java.util.Arrays.copyOfRange(bmp, 14, bmp.length)
    }
    def dibU32(d: Array[Byte], o: Int): Int =
      (d(o) & 0xff) | ((d(o + 1) & 0xff) << 8) |
        ((d(o + 2) & 0xff) << 16) | ((d(o + 3) & 0xff) << 24)
    writeAvi(dibs, dibU32(dibs.head, 4), dibU32(dibs.head, 8), fps,
      handler = "DIB ", strf = java.util.Arrays.copyOfRange(dibs.head, 0, 40),
      frameId = "00db")
  }

  /** Pack JPEG-encoded frames into an MJPEG AVI: the lossy sibling of
    * [[encodeAvi]]. Same RIFF('AVI ')/avih/strl/movi/idx1 layout, but the
    * stream handler is 'MJPG', `strf` is a synthesized BITMAPINFOHEADER
    * whose biCompression is the 'MJPG' fourcc, and frames ride in '00dc'
    * chunks (compressed) instead of '00db' (DIB). [[demuxAviFrames]]
    * already passes '00dc' payloads through untouched — ImageIO's JPEG
    * reader takes them directly — so this closes the lossy path
    * end-to-end: writer-produced MJPEG demuxes to the exact JPEG bytes
    * that went in. Kept OUT of the oracle fixtures: JPEG is lossy, so
    * frame pixels are not arithmetic-recomputable by a SQL mirror; specs
    * assert on frame-byte hashes instead.
    */
  def encodeAviMjpeg(frames: Seq[Array[Byte]], width: Int, height: Int,
                     fps: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "encodeAviMjpeg: no frames")
    require(fps > 0, "encodeAviMjpeg: fps must be positive")
    require(width > 0 && height > 0, "encodeAviMjpeg: bad dimensions")
    frames.foreach { j =>
      require(j.length > 3 && (j(0) & 0xff) == 0xff && (j(1) & 0xff) == 0xd8,
        "encodeAviMjpeg: frames must be JPEG files (SOI marker)")
    }
    val maxFrame = frames.map(_.length).max
    // BITMAPINFOHEADER with biCompression = 'MJPG' (no DIB to copy from)
    val strf = new java.io.ByteArrayOutputStream()
    le32(strf, 40); le32(strf, width); le32(strf, height)
    strf.write(1); strf.write(0)  // biPlanes = 1
    strf.write(24); strf.write(0) // biBitCount
    fcc(strf, "MJPG")             // biCompression
    le32(strf, maxFrame)          // biSizeImage (upper bound)
    (0 until 4).foreach(_ => le32(strf, 0))
    // MJPEG frames are keyframes too
    writeAvi(frames, width, height, fps,
      handler = "MJPG", strf = strf.toByteArray, frameId = "00dc")
  }

  /** The AVI layout both encoders write: RIFF('AVI ') holding
    * LIST('hdrl') — a standard 56-byte `avih` and one 'vids' stream
    * (`handler` fourcc, `strf` format bytes) — then the `payloads` as
    * `frameId` chunks in LIST('movi'), then an `idx1` index (offsets
    * relative to the 'movi' fourcc, AVIIF_KEYFRAME on every frame).
    */
  private def writeAvi(payloads: Seq[Array[Byte]], width: Int, height: Int,
                       fps: Int, handler: String, strf: Array[Byte],
                       frameId: String): Array[Byte] = {
    val maxFrame = payloads.map(_.length).max
    val n = payloads.length

    val avih = new java.io.ByteArrayOutputStream()
    le32(avih, 1000000 / fps); le32(avih, 0); le32(avih, 0)
    le32(avih, 0x10) // AVIF_HASINDEX
    le32(avih, n); le32(avih, 0); le32(avih, 1); le32(avih, maxFrame)
    le32(avih, width); le32(avih, height)
    (0 until 4).foreach(_ => le32(avih, 0))

    val strh = new java.io.ByteArrayOutputStream()
    fcc(strh, "vids"); fcc(strh, handler)
    le32(strh, 0); le32(strh, 0); le32(strh, 0)
    le32(strh, 1); le32(strh, fps) // dwScale / dwRate
    le32(strh, 0); le32(strh, n); le32(strh, maxFrame)
    le32(strh, -1); le32(strh, 0) // quality / sampleSize
    // rcFrame: four 16-bit fields (0, 0, width, height)
    strh.write(0); strh.write(0); strh.write(0); strh.write(0)
    strh.write(width & 0xff); strh.write((width >>> 8) & 0xff)
    strh.write(height & 0xff); strh.write((height >>> 8) & 0xff)

    val strl = new java.io.ByteArrayOutputStream()
    fcc(strl, "strl")
    chunk(strl, "strh", strh.toByteArray)
    chunk(strl, "strf", strf)

    val hdrl = new java.io.ByteArrayOutputStream()
    fcc(hdrl, "hdrl")
    chunk(hdrl, "avih", avih.toByteArray)
    chunk(hdrl, "LIST", strl.toByteArray)

    val movi = new java.io.ByteArrayOutputStream()
    fcc(movi, "movi")
    // idx1 offsets are relative to the 'movi' fourcc position
    val offsets = new Array[Int](n)
    payloads.zipWithIndex.foreach { case (d, i) =>
      offsets(i) = movi.size() // stream starts AT the 'movi' fourcc
      chunk(movi, frameId, d)
    }
    val idx1 = new java.io.ByteArrayOutputStream()
    payloads.zipWithIndex.foreach { case (d, i) =>
      fcc(idx1, frameId); le32(idx1, 0x10) // AVIIF_KEYFRAME
      le32(idx1, offsets(i)); le32(idx1, d.length)
    }

    val body = new java.io.ByteArrayOutputStream()
    fcc(body, "AVI ")
    chunk(body, "LIST", hdrl.toByteArray)
    chunk(body, "LIST", movi.toByteArray)
    chunk(body, "idx1", idx1.toByteArray)

    val out = new java.io.ByteArrayOutputStream()
    chunk(out, "RIFF", body.toByteArray)
    out.toByteArray
  }

  /** DEMUX an AVI payload into its frames, lazily: walk the RIFF chunk
    * tree to LIST('movi'), iterate frame chunks in stream order ('00db'
    * uncompressed DIB → a 14-byte BITMAPFILEHEADER is rebuilt in front so
    * ImageIO reads it as a BMP; '00dc' compressed payloads — MJPEG —
    * pass through, ImageIO's JPEG reader takes them directly; 'rec '
    * sub-lists are descended). Emits `(frame_idx, image bytes)`; a
    * corrupt or non-AVI payload emits NOTHING — zero decodable frames is
    * the loops' pass-through-un-deduped policy, never an exception on
    * the executor.
    */
  def demuxAviFrames(bytes: Array[Byte]): Iterator[(Long, Array[Byte])] = {
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def fourcc(o: Int): String = new String(bytes, o, 4, "ISO-8859-1")
    if (bytes == null || bytes.length < 12 ||
      fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return Iterator.empty
    // top-level walk to LIST('movi'). ALL chunk-position arithmetic is in
    // Long: a crafted/corrupt LE32 size near 2^32 (e.g. 0xFFFFFFF7, where
    // 8+sz+pad == 2^32) makes the Int increment 0 or negative — an
    // executor-side infinite loop. In Long, pos strictly increases by at
    // least 8 per chunk, so termination is structural, not size-dependent.
    var pos = 12L
    var moviStart = -1L; var moviEnd = -1L
    val riffEnd = math.min(bytes.length.toLong, 8L + u32(4))
    while (pos + 8 <= riffEnd && moviStart < 0) {
      val p = pos.toInt // pos < riffEnd <= bytes.length, so Int-safe
      val id = fourcc(p); val sz = u32(p + 4)
      if (id == "LIST" && pos + 12 <= riffEnd && fourcc(p + 8) == "movi") {
        moviStart = pos + 12
        moviEnd = math.min(pos + 8 + sz, riffEnd)
      }
      pos += 8 + sz + (sz & 1)
    }
    if (moviStart < 0) return Iterator.empty
    new Iterator[(Long, Array[Byte])] {
      // a tiny explicit stack handles 'rec ' grouping lists.
      // (moviStart/moviEnd are clamped to bytes.length above, so Int.)
      private var stack = List((moviStart.toInt, moviEnd.toInt))
      private var idx = 0L
      private var nextFrame: (Long, Array[Byte]) = null
      private def advance(): Unit = {
        nextFrame = null
        while (nextFrame == null && stack.nonEmpty) {
          val (p, end) = stack.head
          if (p + 8 > end) stack = stack.tail
          else {
            val id = fourcc(p); val sz = u32(p + 4)
            val dataStart = p + 8
            val dataEnd = math.min(dataStart + sz, end.toLong).toInt
            // position arithmetic in Long, clamped to this level's end:
            // afterL >= p+8 > p guarantees monotonic progress even when a
            // crafted sz would wrap Int math to `after <= p` (which looped
            // forever re-emitting the same frame chunk) or to a negative
            // offset (which made fourcc throw).
            val after =
              math.min(dataStart.toLong + sz + (sz & 1), end.toLong).toInt
            stack = (after, end) :: stack.tail
            if (id == "LIST" && dataStart + 4 <= dataEnd &&
              fourcc(dataStart) == "rec ")
              stack = (dataStart + 4, dataEnd) :: stack
            // only stream 0 ('00db'/'00dc') — encodeAvi writes a single
            // 'vids' stream first; matching any '??db' would interleave a
            // second video/other stream into one frame_idx sequence and
            // corrupt per-frame dHash alignment for containment joins
            else if (id == "00db" && dataEnd - dataStart >= 40) {
              // a DIB frame opens with a 40-byte BITMAPINFOHEADER; anything
              // shorter is corrupt — skip it rather than read past the end
              // rebuild the BITMAPFILEHEADER: 'BM', file size, reserved,
              // data offset = 14 + biSize + palette (none for 24-bit)
              val dib = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
              val biSize = (dib(0) & 0xff) | ((dib(1) & 0xff) << 8) |
                ((dib(2) & 0xff) << 16) | ((dib(3) & 0xff) << 24)
              val bmp = new java.io.ByteArrayOutputStream(14 + dib.length)
              bmp.write('B'); bmp.write('M')
              le32(bmp, 14 + dib.length); le32(bmp, 0); le32(bmp, 14 + biSize)
              bmp.write(dib, 0, dib.length)
              nextFrame = (idx, bmp.toByteArray); idx += 1
            } else if (id == "00dc" && dataEnd > dataStart) {
              nextFrame = (idx,
                java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd))
              idx += 1
            }
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextFrame != null
      override def next(): (Long, Array[Byte]) = {
        val r = nextFrame; advance(); r
      }
    }
  }

  /** Attach a REAL video payload: `nFrames` BMP-encoded gradient frames
    * in a REAL AVI container ([[encodeAvi]] — RIFF/avih/strl/movi/idx1;
    * frames stay losslessly DIB-encoded, like the image fixture's
    * arithmetic-recomputable contract). Frame `f` of clip `id` carries
    * the [[gradientPixels]] pattern of EFFECTIVE id
    * `((id div 4)·nFrames + f)·4 + id mod 4` — so clips of one family
    * (id div 4) are frame-aligned near-dups (same per-frame family,
    * variant bump only), different frames of one clip are far (distinct
    * pattern families), and a pure-SQL oracle recomputes every frame
    * hash from arithmetic.
    */
  /** `frameOffset`/`indexFrames` generate a TRIMMED clip: payload frame
    * j carries the content of SOURCE frame `j + frameOffset` under the
    * source's `indexFrames`-frame indexing (defaults reproduce the
    * historical whole-clip payload bit-for-bit) — the fixture for
    * containment-style dedup, where a short clip is a cut of a longer
    * one.
    */
  def withVideoPayload(df: DataFrame, idCol: String, nFrames: Int = 8,
                       frameOffset: Int = 0, indexFrames: Int = 0): DataFrame = {
    require(nFrames > 0, "nFrames must be positive")
    require(frameOffset >= 0, "frameOffset must be non-negative")
    val idxFrames = if (indexFrames > 0) indexFrames else nFrames
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val k = java.lang.Math.floorDiv(id, 4L)
          val v = java.lang.Math.floorMod(id, 4L)
          val frames = (0 until nFrames).map { f =>
            encodeBmp(gradientPixels(
              (k * idxFrames + f + frameOffset) * 4L + v))
          }
          (id, encodeAvi(frames))
        }
      }
      .toDF(idCol, "payload")
  }

  /** Per-frame 64-bit dHash table of a video column: REAL container demux
    * ([[demuxAviFrames]] for RIFF/AVI payloads — frames walked lazily,
    * never a whole-clip frame buffer; non-AVI payloads fall back to the
    * fixed-size slicing of [[sampleFrames]], the legacy stub boundary) →
    * every-nth temporal sampling → the SAME dHash kernel as still images,
    * one row per (clip, sampled frame). Undecodable frames hash NULL; a
    * corrupt container demuxes to zero frames (the loops' opaque-blob
    * pass-through policy). This is the clip fingerprint a media lake
    * persists: ~8 bytes per sampled frame.
    */
  def videoFrameHashes(df: DataFrame, idCol: String,
                       payloadCol: String = "payload",
                       frameBytes: Int = 0, everyNth: Int = 2): DataFrame = {
    require(everyNth > 0, "everyNth must be positive")
    val fb = if (frameBytes > 0) frameBytes else videoFrameBytes
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { items =>
        javax.imageio.ImageIO.setUseCache(false)
        items.flatMap { case (id, bytes) =>
          val isAvi = bytes != null && bytes.length >= 12 &&
            bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
            bytes(3) == 'F' && bytes(8) == 'A' && bytes(9) == 'V' &&
            bytes(10) == 'I' && bytes(11) == ' '
          val frames: Iterator[(Long, Array[Byte])] =
            if (isAvi) demuxAviFrames(bytes).filter(_._1 % everyNth == 0)
            else if (bytes == null) Iterator.empty
            else {
              val nFrames = (bytes.length + fb - 1) / fb
              Iterator.range(0, nFrames, everyNth).map { f =>
                val from = f * fb
                (f.toLong, java.util.Arrays.copyOfRange(
                  bytes, from, math.min(from + fb, bytes.length)))
              }
            }
          frames.map { case (f, frame) => (id, f, dHashBytes(frame)) }
        }
      }
      .toDF(idCol, "frame_idx", "sh")
      .select(col(idCol).as("id"), col("frame_idx"), col("sh"))
  }

  /** VIDEO near-duplicate pairs — the composition that completes the
    * media-dedup family (text SimHash / image dHash / audio fingerprint /
    * video): per-frame hashes ([[videoFrameHashes]]) →
    * [[Dedup.alignedHammingPairs]] (the pigeonhole Hamming join keyed by
    * frame position, so only ALIGNED frames of two clips ever become
    * candidates — the standard cheap clip fingerprint match) → clip
    * verdict by matched-frame fraction: a pair surfaces when
    * `n_matched ≥ minMatchFrac · min(n1, n2)` over each side's decodable
    * sampled frames.
    *
    * Scale shape: everything rides existing bucketed machinery — the
    * frame-hash table is 8 bytes per sampled frame, the join never
    * shuffles pixels, and the per-pair aggregation is bounded by matched
    * positions. Clips with zero decodable frames never pair (an opaque
    * blob is not evidence of duplication — the [[MediaStreams]] policy).
    *
    * DEGENERATE-CONTENT CAVEAT: a frame hash shared by many clips at one
    * position (black frames, title cards, station logos) makes the TRUE
    * aligned-pair set quadratic in that clique — no join shape can
    * return a quadratic answer in sub-quadratic output. The
    * [[Dedup.simhashPairsFromTable]] `maxBucket` certificate trick does
    * not apply here because the verdict needs PER-PAIR matched counts,
    * not connectivity. The production mitigation is upstream: drop
    * low-information frames before hashing (filter on
    * [[graft.functions.TextFunctions]]-style entropy or a pixel-variance
    * floor in the decode stage), which is standard practice precisely
    * because it bounds this clique size.
    */
  def videoNearDupPairs(df: DataFrame, idCol: String,
                        payloadCol: String = "payload",
                        frameBytes: Int = 0, everyNth: Int = 2,
                        maxDistance: Int = 3,
                        minMatchFrac: Double = 0.5): DataFrame = {
    require(minMatchFrac > 0 && minMatchFrac <= 1, "minMatchFrac in (0, 1]")
    // the hash table feeds the pair join's BOTH sides and the per-clip
    // frame counts — materialize so each clip is demuxed + hashed once
    val fh = videoFrameHashes(df, idCol, payloadCol, frameBytes, everyNth)
      .filter(col("sh").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perClip = fh.groupBy("id").agg(count(lit(1)).as("__nf"))
    val matched = Dedup.alignedHammingPairs(
        fh.select(col("id"), col("frame_idx").as("pos"), col("sh")),
        maxDistance)
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_matched"))
    matched
      .join(perClip.select(col("id").as("id1"), col("__nf").as("__n1")), "id1")
      .join(perClip.select(col("id").as("id2"), col("__nf").as("__n2")), "id2")
      .withColumn("n_frames", least(col("__n1"), col("__n2")))
      .filter(col("n_matched").cast("double") >=
        lit(minMatchFrac) * col("n_frames").cast("double"))
      .select(col("id1"), col("id2"), col("n_matched"), col("n_frames"))
  }

  /** VIDEO CONTAINMENT pairs — the UNALIGNED, DIRECTED complement of
    * [[videoNearDupPairs]]: clip B is reported as contained in clip A
    * when ≥ `minContainFrac` of B's decodable sampled frames match SOME
    * frame of A within `maxDistance` Hamming, at ANY position — the
    * trimmed/re-cut relation (a highlight cut, a shortened re-upload)
    * that the aligned join structurally misses (frame k only ever meets
    * frame k there), exactly as [[graft.operators.Dedup.ngramContainmentPairsFromSets]]
    * is the directed complement of symmetric Jaccard for text quotes.
    *
    * Output one row per DIRECTED (container_id, contained_id) passing
    * the fraction test (both directions emit when both pass — near-dup
    * variants contain each other); `n_matched` counts DISTINCT contained
    * frames matched, `n_frames` the contained side's frame count.
    *
    * Scale shape: candidates from the SAME pigeonhole chunk join as every
    * Hamming operator, just WITHOUT the position in the bucket key; the
    * per-pair aggregation stays bounded by matched frames. Dropping the
    * position key raises the degenerate-content stakes (a black frame
    * ANYWHERE in two clips now collides, not just at one position) — the
    * [[videoNearDupPairs]] caveat applies with more force, and the same
    * upstream mitigation (drop low-information frames before hashing) is
    * the production answer.
    */
  def videoContainmentPairs(df: DataFrame, idCol: String,
                            payloadCol: String = "payload",
                            frameBytes: Int = 0, everyNth: Int = 2,
                            maxDistance: Int = 3,
                            minContainFrac: Double = 0.75): DataFrame = {
    require(minContainFrac > 0 && minContainFrac <= 1, "minContainFrac in (0, 1]")
    val fh = videoFrameHashes(df, idCol, payloadCol, frameBytes, everyNth)
      .filter(col("sh").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perClip = fh.groupBy("id").agg(count(lit(1)).as("__nf"))
    val chunks = maxDistance + 1
    val bits = 64 / chunks
    def chunked(t: DataFrame) = t.select(col("id"), col("frame_idx"), col("sh"),
      explode(array((0 until chunks).map(c => struct(lit(c).as("chunk"),
        shiftright(col("sh"), c * bits).bitwiseAND(lit((1L << bits) - 1)).as("cv"))): _*))
        .as("b"))
      .select(col("id"), col("frame_idx"), col("sh"), col("b.chunk"), col("b.cv"))
    val c = chunked(fh)
    // verify inline on the streamed chunk join, THEN distinct only the
    // (pair, contained frame) survivors — the verified-before-shuffled
    // rule of simhashPairsFromTable
    val matched = c.select(col("chunk"), col("cv"), col("id").as("id1"), col("sh").as("sh1"))
      .join(c.select(col("chunk"), col("cv"), col("id").as("id2"),
        col("frame_idx").as("__f2"), col("sh").as("sh2")), Seq("chunk", "cv"))
      .filter(col("id1") =!= col("id2"))
      .filter(bit_count(col("sh1").bitwiseXOR(col("sh2"))) <= maxDistance)
      .select(col("id1"), col("id2"), col("__f2")).distinct()
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_matched"))
    matched
      .join(perClip.select(col("id").as("id2"), col("__nf").as("n_frames")), "id2")
      .filter(col("n_matched").cast("double") >=
        lit(minContainFrac) * col("n_frames").cast("double"))
      .select(col("id1").as("container_id"), col("id2").as("contained_id"),
        col("n_matched"), col("n_frames"))
  }

  /** Resize planning over decoded media features: fit (width, height)
    * into a target box preserving aspect ratio — the standard
    * downscale-before-embedding step. Pure integer column arithmetic
    * (codegen'd); the actual pixel resample belongs to the per-partition
    * decoder ([[decodeFeatures]]' stub boundary), but the geometry — what
    * production schedulers size buffers and batch shapes with — is real.
    * Upscaling is not performed (scale capped at 1).
    */
  def resizeToFit(df: DataFrame, targetW: Int, targetH: Int,
                  widthCol: String = "width", heightCol: String = "height"): DataFrame = {
    require(targetW > 0 && targetH > 0, "target box must be positive")
    // scale = min(tw/w, th/h, 1); new dims = max(1, floor(dim * scale))
    val scale = least(
      lit(targetW).cast("double") / col(widthCol),
      lit(targetH).cast("double") / col(heightCol),
      lit(1.0))
    df.withColumn("resized_width",
        greatest(floor(col(widthCol) * scale), lit(1)).cast("int"))
      .withColumn("resized_height",
        greatest(floor(col(heightCol) * scale), lit(1)).cast("int"))
  }

}
