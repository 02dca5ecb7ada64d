package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Partitioning
import org.apache.spark.sql.types._

/** Multimodal columns: opaque `binary` payloads + typed metadata, with the
  * decode step stubbed (no image/audio libs in this container — the
  * Spark-side plumbing is real, the codec is a deterministic fake).
  *
  * Model: a media table `(doc_id, payload: binary, meta: struct)` — here
  * derived from `documents` by treating UTF-8 text bytes as the payload,
  * exactly how a real pipeline treats JPEG/FLAC bytes: never parsed by
  * Catalyst, only by the per-partition decode.
  *
  * Scale design:
  *   - payloads stay in binary columns (parquet keeps them compressed,
  *     column pruning skips them unless the decode stage runs);
  *   - decode runs in `mapPartitions` — one codec instance per partition,
  *     batch-amortized, the Scala analogue of `mapInPandas` batches;
  *   - features come back as fixed-width arrays, so downstream similarity
  *     ops (graft.operators.Similarity) apply unchanged.
  */
object Multimodal {
  /** One-time per-JVM codec tuning: javax.imageio's default
    * disk-backed stream cache creates and deletes a temp file per
    * encode/decode call — 32 concurrent decode tasks then serialize on
    * temp-file churn and the synchronized cache-directory lookup,
    * burning ~3x the CPU of the decode itself (measured r18 when the
    * decode stages were first spread across cores). Memory-cached
    * streams remove the shared-disk rendezvous; payloads here are
    * row-sized, so the memory cost is the payload itself. Idempotent,
    * JVM-global; referenced at the top of every ImageIO-touching
    * mapPartitions closure so executors apply it on first task. */
  private[operators] lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)


  /** Attach the opaque payload + typed metadata (length, content hash,
    * declared mime). Pure projection — codegen'd, no data copy beyond the
    * UTF-8 encode. */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        octet_length(encode(col("text"), "UTF-8")).as("byte_len"),
        md5(encode(col("text"), "UTF-8")).as("content_md5"),
        lit("text/plain").as("mime")).as("meta"))

  /** Deterministic frame sampling: `frame_count = byte_len DIV bytesPerFrame`
    * frames per payload, one output row per sampled frame index (stride
    * `stride`). The explode is the real plumbing; a video pipeline swaps
    * the count derivation for container metadata. */
  def frameSample(media: DataFrame, bytesPerFrame: Int, stride: Int): DataFrame = {
    // argument checks at call time, not a cryptic "sequence step must
    // not be zero" mid-job (review r18; videoSignature guards the same)
    require(bytesPerFrame >= 1, s"bytesPerFrame must be >= 1, got $bytesPerFrame")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    media
      .withColumn("frame_count",
        floor(col("meta.byte_len") / lit(bytesPerFrame)).cast(IntegerType))
      .filter(col("frame_count") > 0)
      .select(col("doc_id"), col("frame_count"),
        explode(sequence(lit(0), col("frame_count") - 1, lit(stride)))
          .as("frame_idx"))
  }

  /** Deterministic "resize": normalize every payload to exactly
    * `targetBytes` (truncate or zero-pad) and update the metadata to
    * match. Stands in for image resize / audio resample — the real
    * transform swaps the byte slice for a codec call; the Spark contract
    * (binary in, fixed-size binary out, meta kept honest) is identical.
    * Pure projection: codegen'd, no partition reshaping. */
  def resizePayload(media: DataFrame, targetBytes: Int): DataFrame =
    media
      // materialize the resized bytes ONCE, then derive meta from the
      // same column — duplicating the resize expression would let the
      // hash and the payload drift apart under a future edit
      .select(col("doc_id"),
        rpad(substring(col("payload"), 1, targetBytes), targetBytes,
          Array[Byte](0)).as("payload"),
        col("meta.mime").as("mime"))
      .select(
        col("doc_id"),
        col("payload"),
        struct(
          // octet_length, not lit(targetBytes): NULL payloads must get
          // NULL byte_len, not a fixed-size claim for absent bytes
          octet_length(col("payload")).as("byte_len"),
          md5(col("payload")).as("content_md5"),
          col("mime")).as("meta"))

  /** REAL image resize through the same ImageIO seam as [[ImageIoCodec]]:
    * decode the payload container → rescale to `targetPx`×`targetPx`
    * pixels (JDK-only `java.awt.Graphics2D.drawImage` with bilinear
    * interpolation — no extra dependency) → re-encode as PNG, with the
    * metadata struct recomputed from the ACTUAL re-encoded bytes, never
    * claimed. [[resizePayload]] is the byte-level stand-in for opaque
    * formats; this is the real transform for decodable images — same
    * Spark contract (binary in, binary out, mapPartitions batch
    * execution, meta kept honest), which is the point of the seam.
    * Non-decodable payloads fail loudly, like the codec. */
  def resizeImage(spark: SparkSession, media: DataFrame,
                  targetPx: Int): DataFrame = {
    import spark.implicits._
    require(targetPx >= 1, s"targetPx must be >= 1, got $targetPx")
    Partitioning.spread(media.select(col("doc_id"), col("payload")),
        col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        rows.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null,
            s"resizeImage: payload (${bytes.length} bytes) is not a " +
              "decodable image")
          val out = new java.awt.image.BufferedImage(
            targetPx, targetPx, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetPx, targetPx, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload"),
        struct(
          octet_length(col("payload")).as("byte_len"),
          md5(col("payload")).as("content_md5"),
          lit("image/png").as("mime")).as("meta"))
  }

  /** Cross-modal PAIR consistency — the curation stage the per-modality
    * dedups above cannot express: a caption↔image training pair is junk
    * when the two sides disagree, even if each side is individually
    * clean (crawl misalignment, CDN substitution, watermark pages). The
    * production form scores agreement between a text embedding and an
    * image embedding (CLIP-style) and thresholds; this deterministic
    * stand-in keeps the identical Spark plumbing — media features from
    * a REAL ImageIO decode in `mapPartitions` (binary payloads never
    * parsed by Catalyst), text features as a codegen'd Catalyst
    * expression, one hash equi-join on `pair_id` — with exact integer
    * feature algebra so the whole stage is oracle-gateable
    * (`mm_pair_filter`).
    *
    * Features: media side = the DOMINANT luminance bin of the decoded
    * payload (argmax of [[ImageIoCodec]]'s 16-bin histogram, lowest bin
    * wins ties — deterministic); text side = the bin the pair's
    * renderer would have used, (length(text) mod 256) DIV 16 (the
    * [[syntheticImages]] construction). `consistent` = bin equality; a
    * swapped or substituted image decodes to a different dominant bin
    * and fails the flag.
    *
    * Scale shape: decode is map-side per-partition work on the media
    * table only (payload column pruned everywhere else); the join
    * shuffles two id+bin projections — never payloads; no
    * all-pairs anything. At 100 TB this is one co-partitioned equi-join
    * of two narrow relations. */
  def pairConsistency(spark: SparkSession, texts: DataFrame,
                      media: DataFrame): DataFrame = {
    import spark.implicits._
    val mediaBins = Partitioning.spread(
        media.select(col("pair_id"), col("payload")), col("pair_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val hist = ImageIoCodec.features(bytes)
          var best = 0
          var i = 1
          while (i < hist.length) {
            if (hist(i) > hist(best)) best = i
            i += 1
          }
          (id, best.toLong)
        }
      }.toDF("pair_id", "media_bin")
    val textBins = texts.select(col("pair_id"),
      expr("((((length(text) % 256) + 256) % 256) DIV 16)")
        .cast(LongType).as("text_bin"))
    textBins.join(mediaBins, Seq("pair_id"))
      .withColumn("consistent", col("text_bin") === col("media_bin"))
  }

  /** Feature row produced by the decode stage. */
  final case class MediaFeatures(
      doc_id: Long, byte_len: Int, histogram: Array[Double])

  /** The decode seam: payload bytes → fixed-width feature vector (16-bin
    * histogram summing to 1, the shape every downstream similarity /
    * phash consumer expects). Implementations must be deterministic and
    * serializable — one instance ships to each executor and is shared by
    * all rows of a partition. */
  trait MediaCodec extends Serializable {
    def features(bytes: Array[Byte]): Array[Double]
  }

  /** Deterministic fake codec — the gate path (text payloads are not
    * images, so the oracle-checked mm_* queries need a decode DuckDB can
    * replicate): 16-bin BYTE histogram normalized to sum 1. Same output
    * shape as [[ImageIoCodec]]. */
  object ByteHistogramCodec extends MediaCodec {
    override def features(bytes: Array[Byte]): Array[Double] = {
      val hist = new Array[Double](16)
      var i = 0
      while (i < bytes.length) { hist((bytes(i) & 0xFF) / 16) += 1.0; i += 1 }
      // empty payload → all-zero histogram, not 0/0 = NaN poison
      if (bytes.length > 0) {
        val total = bytes.length.toDouble
        var b = 0
        while (b < 16) { hist(b) = hist(b) / total; b += 1 }
      }
      hist
    }
  }

  /** REAL image decoder — `javax.imageio` (JDK built-in, no extra
    * dependency): decodes PNG/JPEG/GIF/BMP payload bytes to pixels and
    * emits a 16-bin LUMINANCE histogram (integer BT.601 weights
    * (299·R + 587·G + 114·B) / 1000, bin = lum / 16 — all-integer, so
    * the same image decodes to the same features on every JVM).
    * Non-decodable bytes fail loudly: a corrupt payload in a media
    * pipeline is a data-quality event, not a silent zero vector.
    * MultimodalSpec drives real PNG and JPEG bytes through this. */
  object ImageIoCodec extends MediaCodec {
    override def features(bytes: Array[Byte]): Array[Double] = {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      require(img != null,
        s"ImageIoCodec: payload (${bytes.length} bytes) is not a " +
          "decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val hist = new Array[Double](16)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
            114 * (rgb & 0xFF)) / 1000
          hist(lum / 16) += 1.0
          x += 1
        }
        y += 1
      }
      val total = (w.toLong * h).toDouble
      var b = 0
      while (b < 16) { hist(b) = hist(b) / total; b += 1 }
      hist
    }
  }

  /** Shared PCM decode: WAV/AIFF/AU payload bytes → first-channel
    * amplitude per frame (0..32767; 8-bit unsigned PCM recentered and
    * ×256 onto the same scale). ONE definition for [[WavCodec]]'s
    * histogram features and [[audioSignature]] — the two previously
    * carried verbatim copies of the container open, PCM checks, and
    * endian-aware amplitude math, and had already drifted cosmetically
    * (review r18); the next amplitude fix would have landed in one
    * copy only, silently desynchronizing codec features from
    * signatures. `who` labels error messages with the caller. */
  private def pcmAmplitudes(bytes: Array[Byte], who: String): Array[Int] = {
    // RIFF/WAVE fast path, parsed lock-free: AudioSystem's per-call
    // provider lookup synchronizes JVM-wide, and once the decode stage
    // is spread across cores (guide §2.5) 32 concurrent tasks serialize
    // on that registry — measured r18: total decode CPU TRIPLED versus
    // the same work single-threaded. The canonical WAV container is a
    // chunk-walked RIFF file (fmt + data), so the overwhelmingly common
    // case needs no registry at all; non-WAV containers (AIFF/AU — rare
    // here) keep the AudioSystem path and its exact error contract.
    if (bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
        bytes(10) == 'V' && bytes(11) == 'E')
      return wavPcmAmplitudes(bytes, who)
    val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    catch {
      case e: javax.sound.sampled.UnsupportedAudioFileException =>
        throw new IllegalArgumentException(
          s"$who: payload (${bytes.length} bytes) is not a " +
            "decodable audio container", e)
    }
    val fmt = in.getFormat
    val bits = fmt.getSampleSizeInBits
    require(bits == 16 || bits == 8,
      s"$who: only 8/16-bit PCM supported, got $bits-bit ${fmt.getEncoding}")
    val frameSize = fmt.getFrameSize
    val data = in.readAllBytes()
    require(frameSize > 0 && data.length % frameSize == 0,
      s"$who: truncated frame (len ${data.length}, frame $frameSize)")
    amplitudesOf(data, 0, data.length, frameSize, bits, fmt.isBigEndian)
  }

  /** The WAV arm of [[pcmAmplitudes]]: walk the RIFF chunks for `fmt `
    * and `data`, enforce the same PCM/bit-depth contract, and run the
    * shared amplitude loop. WAV sample data is always little-endian;
    * 8-bit WAV PCM is unsigned by spec. */
  private def wavPcmAmplitudes(bytes: Array[Byte], who: String): Array[Int] = {
    def le16(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    def le32(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
      ((bytes(o + 2) & 0xFF) << 16) | ((bytes(o + 3) & 0xFF) << 24)
    var off = 12
    var frameSize = -1
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= bytes.length && (frameSize < 0 || dataOff < 0)) {
      val id = new String(bytes, off, 4, "US-ASCII")
      val size = le32(off + 4)
      require(size >= 0 && off + 8 + size <= bytes.length,
        s"$who: truncated RIFF chunk '$id' (size $size at offset $off)")
      if (id == "fmt ") {
        require(size >= 16, s"$who: malformed fmt chunk (size $size)")
        val audioFormat = le16(off + 8)
        require(audioFormat == 1,
          s"$who: only PCM WAV supported, got format code $audioFormat")
        bits = le16(off + 8 + 14)
        require(bits == 16 || bits == 8,
          s"$who: only 8/16-bit PCM supported, got $bits-bit PCM")
        frameSize = le16(off + 8 + 12) // block align = channels·bits/8
        require(frameSize > 0, s"$who: malformed block align $frameSize")
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = size
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(frameSize > 0 && dataOff >= 0,
      s"$who: payload (${bytes.length} bytes) is not a " +
        "decodable audio container (missing fmt/data chunk)")
    require(dataLen % frameSize == 0,
      s"$who: truncated frame (len $dataLen, frame $frameSize)")
    amplitudesOf(bytes, dataOff, dataLen, frameSize, bits,
      bigEndian = false)
  }

  /** The endian-aware first-channel |amplitude| loop shared by both
    * container arms (0..32767; 8-bit PCM recentered and ×256). */
  private def amplitudesOf(data: Array[Byte], start: Int, len: Int,
                           frameSize: Int, bits: Int,
                           bigEndian: Boolean): Array[Int] = {
    val n = len / frameSize
    val amps = new Array[Int](n)
    var f = 0
    while (f < n) {
      val off = start + f * frameSize
      amps(f) =
        if (bits == 16) {
          val sample = if (bigEndian)
            (data(off) << 8) | (data(off + 1) & 0xFF)
          else (data(off + 1) << 8) | (data(off) & 0xFF)
          math.min(math.abs(sample), 32767)
        } else math.abs((data(off) & 0xFF) - 128) * 256
      f += 1
    }
    amps
  }


  /** Canonical 16-bit mono little-endian PCM WAV container around raw
    * sample bytes — byte-for-byte the 44-byte header AudioSystem's WAVE
    * writer emits for this format, minus AudioSystem's synchronized
    * per-call provider lookup (the same JVM-wide registry rendezvous as
    * [[imageIoNoDiskCache]]'s rationale: once the render stage is
    * spread across cores, 32 concurrent AudioSystem.write calls
    * serialize on the registry — measured r18). */
  private def wavPcm16MonoBytes(pcm: Array[Byte],
                                sampleRate: Int): Array[Byte] = {
    val out = new Array[Byte](44 + pcm.length)
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte
      out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    def tag(o: Int, t: String): Unit = {
      val b = t.getBytes("US-ASCII")
      System.arraycopy(b, 0, out, o, 4)
    }
    tag(0, "RIFF"); le32(4, 36 + pcm.length); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1) // PCM
    le16(22, 1) // mono
    le32(24, sampleRate); le32(28, sampleRate * 2) // byte rate
    le16(32, 2) // block align
    le16(34, 16) // bits
    tag(36, "data"); le32(40, pcm.length)
    System.arraycopy(pcm, 0, out, 44, pcm.length)
    out
  }

  /** REAL audio decoder — `javax.sound.sampled` (JDK built-in): decodes
    * WAV/AIFF/AU payload bytes to PCM samples and emits a 16-bin
    * AMPLITUDE histogram (|sample| / full-scale, binned evenly; first
    * channel of each frame). Supports the signed 16-bit and unsigned
    * 8-bit PCM encodings the JDK parses natively — all-integer sample
    * math, so identical features on every JVM. Non-decodable bytes fail
    * loudly, like [[ImageIoCodec]]. */
  object WavCodec extends MediaCodec {
    override def features(bytes: Array[Byte]): Array[Double] = {
      val amps = pcmAmplitudes(bytes, "WavCodec")
      val n = amps.length
      val hist = new Array[Double](16)
      var f = 0
      while (f < n) {
        hist(math.min(15, amps(f) * 16 / 32768)) += 1.0
        f += 1
      }
      if (n > 0) { var b = 0; while (b < 16) { hist(b) /= n.toDouble; b += 1 } }
      hist
    }
  }

  /** Deterministic REAL-container image payloads derived from row data:
    * one `px`×`px` solid-gray PNG per document, gray = n_chars mod 256 —
    * a full ImageIO ENCODE in executor partitions. Because the decoded
    * luminance is a pure function of n_chars, the real-codec decode
    * path ([[ImageIoCodec]]) becomes ORACLE-GATEABLE: the expected
    * histogram is one ANSI-SQL expression over the base table
    * (`mm_decode_image`), so the gate certifies a genuine
    * PNG-encode → PNG-decode → feature round trip, not a stub. */
  def syntheticImages(spark: SparkSession, docs: DataFrame,
                      px: Int): DataFrame = {
    import spark.implicits._
    require(px >= 1, s"px must be >= 1, got $px")
    Partitioning.spread(
        docs.select(col("doc_id"), col("n_chars").cast(LongType)),
        col("doc_id"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        rows.map { case (id, nc) =>
          val g = (((nc % 256) + 256) % 256).toInt
          val img = new java.awt.image.BufferedImage(
            px, px, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < px) {
            var x = 0
            while (x < px) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** Deterministic PATTERNED image payloads — the perceptual-dedup test
    * corpus [[syntheticImages]]'s solid fields cannot provide (every
    * gradient of a solid image is zero, so a difference hash would
    * collapse the whole corpus into one bucket). Each document renders
    * an 8×8 logical grid of gray cells, scaled up to `px`×`px`
    * (px must be a multiple of 8 — cells become (px/8)² pixel blocks):
    *
    *   t = cx + 8·cy + 3
    *   gray = ((doc_id+1)·(t+1)·40503 + (doc_id div 256 + 1)·(t²+7)·97) mod 256
    *
    * TWO id bytes drive the polynomial's coefficients, so distinct
    * documents get effectively distinct patterns (a single-byte
    * multiplier would collapse ids that agree mod 256 into identical
    * signatures — pair volume then grows quadratically in corpus size
    * instead of tracking the planted duplicates).
    * Pure integer arithmetic, so the DuckDB oracle restates the exact
    * grid — and the decoded luminance of a gray pixel is the gray value
    * itself under the BT.601 integer weights. Rendering the SAME
    * doc_id at px=8 and px=16 produces byte-DIFFERENT PNGs (different
    * dimensions, different encode) whose [[imageSignature]]s are
    * BIT-IDENTICAL: the planted "re-encoded, resized duplicate". */
  def syntheticPatternImages(spark: SparkSession, docs: DataFrame,
                             px: Int): DataFrame = {
    import spark.implicits._
    require(px >= 8 && px % 8 == 0,
      s"px must be a positive multiple of 8, got $px")
    Partitioning.spread(docs.select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        val k = px / 8
        rows.map { id =>
          val img = new java.awt.image.BufferedImage(
            px, px, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < px) {
            var x = 0
            while (x < px) {
              val t = (x / k) + 8L * (y / k) + 3
              val g = (((id + 1) * (t + 1) * 40503L +
                (id / 256 + 1) * (t * t + 7) * 97L) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** Perceptual image signature (difference hash): REAL ImageIO decode
    * → BT.601 integer luminance → area-mean downscale to a `grid`×
    * `grid` cell matrix (block means — EXACT for block-aligned integer
    * upscales, which is what makes a pixel-doubled re-encode hash
    * bit-identically) → horizontal gradient bits,
    *
    *   bit (cy·(grid−1)+cx) = 1  iff  cell(cx+1, cy) > cell(cx, cy)
    *
    * packed into one long ((grid−1)·grid bits — 56 for the default 8).
    * The signature is invariant under re-encoding and block-aligned
    * resizing but sensitive to content — the standard dHash trade.
    * Image dimensions must be multiples of `grid` (fail loudly, like
    * the codecs: a stray thumbnail in a dedup pipeline is a data-
    * quality event). Pair generation rides the SimHash pigeonhole
    * machinery ([[Dedup.hammingPairsFromSigs]]): 4-chunk blocking,
    * exact xor-popcount verify — at 100 TB the shuffle carries
    * (8-byte signature, id) rows only, never pixels. */
  def imageSignature(spark: SparkSession, media: DataFrame,
                     grid: Int = 8): DataFrame = {
    import spark.implicits._
    require(grid >= 2 && (grid - 1) * grid <= 64,
      s"grid must be in [2, 8] so the signature packs into a long, got $grid")
    Partitioning.spread(media.select(col("doc_id"), col("payload")),
        col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        rows.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null,
            s"imageSignature: payload (${bytes.length} bytes) is not a " +
              "decodable image")
          (id, dHashOf(img, grid, "imageSignature"))
        }
      }.toDF("doc_id", "sig")
  }

  /** The dHash core shared by [[imageSignature]] and [[videoSignature]]:
    * BT.601 integer luminance → area-mean `grid`×`grid` cells →
    * horizontal gradient bits packed into one long. */
  private def dHashOf(img: java.awt.image.BufferedImage, grid: Int,
                      caller: String): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % grid == 0 && h % grid == 0,
      s"$caller: image ${w}x$h is not a multiple of the " +
        s"$grid-cell grid")
    val (bw, bh) = (w / grid, h / grid)
    val cells = Array.ofDim[Long](grid, grid)
    var cy = 0
    while (cy < grid) {
      var cx = 0
      while (cx < grid) {
        var sum = 0L
        var y = cy * bh
        while (y < (cy + 1) * bh) {
          var x = cx * bw
          while (x < (cx + 1) * bw) {
            val rgb = img.getRGB(x, y)
            sum += (299 * ((rgb >> 16) & 0xFF) +
              587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)) / 1000
            x += 1
          }
          y += 1
        }
        cells(cy)(cx) = sum / (bw.toLong * bh)
        cx += 1
      }
      cy += 1
    }
    var sig = 0L
    cy = 0
    while (cy < grid) {
      var cx = 0
      while (cx < grid - 1) {
        if (cells(cy)(cx + 1) > cells(cy)(cx))
          sig |= 1L << (cy * (grid - 1) + cx)
        cx += 1
      }
      cy += 1
    }
    sig
  }

  /** Deterministic WAV payloads, same idea as [[syntheticImages]]: 16-bit
    * mono PCM, `samples` frames at constant amplitude n_chars mod 32768 —
    * a real WAV ENCODE (javax.sound.sampled) whose [[WavCodec]] decode
    * lands every sample in bin (n_chars mod 32768) DIV 2048, making the
    * audio decode path oracle-gateable (`mm_decode_audio`). */
  def syntheticAudio(spark: SparkSession, docs: DataFrame,
                     samples: Int): DataFrame = {
    import spark.implicits._
    require(samples >= 1, s"samples must be >= 1, got $samples")
    Partitioning.spread(
        docs.select(col("doc_id"), col("n_chars").cast(LongType)),
        col("doc_id"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        rows.map { case (id, nc) =>
          val amp = (((nc % 32768) + 32768) % 32768).toInt
          val pcm = new Array[Byte](samples * 2)
          var i = 0
          while (i < samples) {
            pcm(2 * i) = (amp & 0xFF).toByte
            pcm(2 * i + 1) = ((amp >> 8) & 0xFF).toByte
            i += 1
          }
          (id, wavPcm16MonoBytes(pcm, 8000))
        }
      }.toDF("doc_id", "payload")
  }

  /** Deterministic PATTERNED audio payloads — the perceptual audio-dedup
    * test corpus ([[syntheticAudio]]'s constant tone would hash every
    * document into one bucket, exactly like a solid image): 16-bit mono
    * little-endian WAV of `segments` constant-amplitude segments,
    * `perSegment` frames each,
    *
    *   a(k) = ((doc_id+1)·(k+2)·40503 + (doc_id div 256 + 1)·(k²+7)·97) mod 32768
    *
    * Two id bytes drive the coefficients (see
    * [[syntheticPatternImages]]'s rationale). Rendering the SAME doc at
    * perSegment and 2·perSegment produces byte-different WAVs (a crude
    * 2× time stretch + re-encode) whose [[audioSignature]]s are
    * BIT-IDENTICAL. */
  def syntheticPatternAudio(spark: SparkSession, docs: DataFrame,
                            segments: Int = 57,
                            perSegment: Int = 32): DataFrame = {
    import spark.implicits._
    require(segments >= 2 && perSegment >= 1,
      s"need >= 2 segments and >= 1 frame each, got $segments x $perSegment")
    Partitioning.spread(docs.select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions { rows =>
        rows.map { id =>
          val n = segments * perSegment
          val pcm = new Array[Byte](n * 2)
          var f = 0
          while (f < n) {
            val k = f / perSegment
            val a = (((id + 1) * (k + 2L) * 40503L +
              (id / 256 + 1) * (k.toLong * k + 7) * 97L) % 32768).toInt
            pcm(2 * f) = (a & 0xFF).toByte
            pcm(2 * f + 1) = ((a >> 8) & 0xFF).toByte
            f += 1
          }
          (id, wavPcm16MonoBytes(pcm, 8000))
        }
      }.toDF("doc_id", "payload")
  }

  /** Perceptual audio signature — [[imageSignature]]'s envelope twin:
    * REAL javax.sound decode (16-bit and unsigned-8-bit PCM, first
    * channel, integer |amplitude| — [[WavCodec]]'s sample math) →
    * mean amplitude per `segments` equal time slices (exact for
    * constant segments, which makes a block-aligned time stretch or
    * re-encode hash bit-identically) → gradient bits,
    *
    *   bit k = 1  iff  mean(k+1) > mean(k),  k < segments−1
    *
    * packed into one long (56 bits at the default 57 segments). Frame
    * count must divide evenly into segments (fail loudly). Pair
    * generation rides the same pigeonhole machinery
    * ([[graft.operators.Dedup.hammingPairsFromSigs]] /
    * [[graft.operators.Dedup.incrementalHammingPairs]]): the shuffle
    * carries (8-byte signature, id) rows only, never samples. */
  def audioSignature(spark: SparkSession, media: DataFrame,
                     segments: Int = 57): DataFrame = {
    import spark.implicits._
    require(segments >= 2 && segments <= 57,
      s"segments must be in [2, 57] so the signature packs into a long, got $segments")
    Partitioning.spread(media.select(col("doc_id"), col("payload")),
        col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val amps = pcmAmplitudes(bytes, "audioSignature")
          val n = amps.length
          require(n % segments == 0,
            s"audioSignature: $n frames do not divide into the " +
              s"$segments-segment grid")
          val per = n / segments
          val means = new Array[Long](segments)
          var f = 0
          while (f < n) {
            means(f / per) += amps(f)
            f += 1
          }
          var sig = 0L
          var k = 0
          while (k < segments - 1) {
            // compare raw segment SUMS: per is identical for every
            // segment, so sum comparison ≡ true-mean comparison and
            // avoids the integer division that collapses close-but-
            // different means into equal floors (ADVICE r15)
            if (means(k + 1) > means(k)) sig |= 1L << k
            k += 1
          }
          (id, sig)
        }
      }.toDF("doc_id", "sig")
  }

  // ------------------------------------------------------------- video

  /** Minimal length-prefixed frame container for the video family:
    * `GVID` magic + BE int32 frame count + per frame (BE int32 length +
    * PNG bytes). The video codecs themselves aren't in this
    * environment, but everything a video pipeline exercises on the
    * Spark side — opaque binary payloads, byte-level container parsing,
    * per-frame image decode, bounded per-row work inside mapPartitions
    * — is real; a production build swaps the frame iterator for an
    * ffmpeg-style demuxer behind the same signature. */
  private def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GVID")
    out.writeInt(frames.length)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush()
    bos.toByteArray
  }

  private def unpackFrames(bytes: Array[Byte]): Iterator[Array[Byte]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(new String(magic, "US-ASCII") == "GVID",
      s"not a GVID container (${bytes.length} bytes)")
    val n = in.readInt()
    require(n >= 1, s"GVID container with $n frames")
    Iterator.tabulate(n) { _ =>
      val len = in.readInt()
      val frame = new Array[Byte](len)
      in.readFully(frame)
      frame
    }
  }

  /** Deterministic patterned VIDEOS — [[syntheticPatternImages]]
    * extended with a time axis: `frames` PNG frames per document packed
    * into a [[packFrames]] container, frame `f`'s cell `t` carrying the
    * same two-id-byte integer pattern evaluated at `u = t + 64·(f+1)`
    * (so every (doc, frame) pair draws a distinct pattern and the
    * DuckDB oracle can restate each frame's signature in pure integer
    * SQL). Same doubling trick as the image family: a `px`-doubled
    * render is a byte-different RE-ENCODE whose per-frame dHash is
    * bit-identical. */
  def syntheticPatternVideos(spark: SparkSession, docs: DataFrame,
                             px: Int, frames: Int): DataFrame = {
    import spark.implicits._
    require(px >= 8 && px % 8 == 0,
      s"px must be a positive multiple of 8, got $px")
    require(frames >= 1 && frames <= 64, s"frames must be in [1, 64], got $frames")
    Partitioning.spread(docs.select(col("doc_id")), col("doc_id"))
      .as[Long]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        val k = px / 8
        rows.map { id =>
          val fs = (0 until frames).map { f =>
            val img = new java.awt.image.BufferedImage(
              px, px, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < px) {
              var x = 0
              while (x < px) {
                val t = (x / k) + 8L * (y / k) + 3
                val u = t + 64L * (f + 1)
                val g = (((id + 1) * (u + 1) * 40503L +
                  (id / 256 + 1) * (u * u + 7) * 97L) % 256).toInt
                img.setRGB(x, y, (g << 16) | (g << 8) | g)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
          (id, packFrames(fs))
        }
      }.toDF("doc_id", "payload")
  }

  /** Perceptual VIDEO signature: parse the frame container, decode
    * every `stride`-th frame (REAL ImageIO work per frame), dHash each
    * sampled frame through the shared [[imageSignature]] core, and
    * compose min-wise — the video's signature is the MINIMUM of its
    * sampled frame signatures (one-permutation MinHash over the frame
    * set). Invariances this buys: re-encoding and block-aligned
    * per-frame resizing (frame dHashes identical → min identical), and
    * trailing-trim whenever the minimal frame survives the trim — the
    * min changes only if the argmin frame itself is cut. Pair
    * generation rides [[graft.operators.Dedup.hammingPairsFromSigs]]
    * unchanged: the shuffle carries (8-byte signature, id) rows, never
    * frames. At 100 TB the decode is the dominant cost and stays
    * map-side, ∝ sampled frames per video. */
  def videoSignature(spark: SparkSession, media: DataFrame,
                     grid: Int = 8, stride: Int = 1): DataFrame = {
    import spark.implicits._
    require(grid >= 2 && (grid - 1) * grid <= 64,
      s"grid must be in [2, 8] so the signature packs into a long, got $grid")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    Partitioning.spread(media.select(col("doc_id"), col("payload")),
        col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        imageIoNoDiskCache
        rows.map { case (id, bytes) =>
          var sig = Long.MaxValue
          var idx = 0
          unpackFrames(bytes).foreach { frame =>
            if (idx % stride == 0) {
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(frame))
              require(img != null,
                s"videoSignature: frame $idx (${frame.length} bytes) " +
                  "is not a decodable image")
              val s = dHashOf(img, grid, "videoSignature")
              if (s < sig) sig = s
            }
            idx += 1
          }
          (id, sig)
        }
      }.toDF("doc_id", "sig")
  }

  /** Decode stage: payload → features through the pluggable codec seam.
    * Default is the deterministic [[ByteHistogramCodec]] (the
    * oracle-gated path); pass [[ImageIoCodec]] for real image payloads —
    * the Spark plumbing (binary column in, mapPartitions batch decode,
    * fixed-width vector out) is IDENTICAL either way, which is the
    * point of the seam.
    *
    * The mapPartitions structure is the real contract: per-partition
    * initialization (the codec instance), streaming batch iteration, no
    * driver involvement. */
  def decodeFeatures(spark: SparkSession, media: DataFrame,
                     codec: MediaCodec = ByteHistogramCodec)
  : Dataset[MediaFeatures] = {
    import spark.implicits._
    val in = media.select(col("doc_id"), col("payload"))
    // spread only for REAL codecs: their per-row decode dominates the
    // payload shuffle the spread pays (measured r18: ImageIO decode
    // 4.3 s → 0.6 s spread). The byte-histogram stub is cheaper than
    // moving its input once — spreading it was a measured net LOSS
    // (0.2 s → 0.7 s), so the stub path keeps the scan's partitioning.
    val spreadIn =
      if (codec eq ByteHistogramCodec) in
      else Partitioning.spread(in, col("doc_id"))
    spreadIn
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val c = codec // one codec instance serves the whole partition
        rows.map { case (id, bytes) =>
          MediaFeatures(id, bytes.length, c.features(bytes))
        }
      }(Encoders.product[MediaFeatures])
  }
}
