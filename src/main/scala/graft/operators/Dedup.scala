package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Materialize
import graft.functions.TextFunctions

/** Deduplication operators over a `(doc_id: long, text: string)` corpus:
  * exact, n-gram-Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (the 100 TB shapes):
  *   - exact: one hash-aggregate on the fingerprint — a single shuffle of
  *     (hash, id), never of the text bytes;
  *   - n-gram Jaccard: doc×doc work only materializes for pairs sharing a
  *     shingle (inverted-index self-join), not the n² cross product;
  *   - MinHash LSH: signatures shrink each doc to b×r longs; the band
  *     self-join only shuffles (band_key, doc_id) pairs; candidates are
  *     exactly verified, so false positives cost work, never correctness;
  *   - SimHash: 4×16-bit chunk blocking guarantees (pigeonhole) that every
  *     pair within Hamming distance 3 shares a chunk — exact recall with
  *     4n index entries.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup via fingerprint group-by: survivor = min doc_id per
    * normalized text; `n_copies` counts the group. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------- n-gram Jaccard pairs

  /** Distinct (doc_id, shingle) pairs — the inverted-index input.
    * Tokenizes in its own projection so the shingle lambda reads a
    * materialized array (see [[TextFunctions.shinglesFromTokens]]).
    *
    * The shingle travels as its xxhash64, not the string: the distinct
    * and the common-count self-join then shuffle 8-byte longs instead of
    * n-word strings (standard shingle-index practice; an accidental
    * 64-bit collision would need ~2³² distinct shingles per corpus to
    * become likely, and the downstream Jaccard counts stay exact as
    * long as hashes are collision-free — the DuckDB gate re-derives the
    * same counts from the raw strings, so a collision would surface as
    * a hash-mismatch, not silent corruption). */
  def docShingles(docs: DataFrame, n: Int): DataFrame =
    // spread before the explode: each doc fans out into |tokens| shingle
    // rows, so an under-parallel input (one-row-group scan) would run
    // the whole tokenize+explode single-threaded (Tables.spread scaladoc)
    graft.core.Tables.spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFunctions.shinglesFromTokens(col("toks"), n)).as("sh_str"))
      .select(col("doc_id"), xxhash64(col("sh_str")).as("shingle"))
      .distinct()

  /** Shared Jaccard scorer over an inverted index `sh` (distinct
    * (doc_id, shingle) rows): common-shingle counts via the self-join —
    * restricted to `candidates` (doc_a, doc_b) when given — then
    * |A∪B| = |A|+|B|−common. Integer counts + one double division —
    * bit-deterministic under any partitioning. Join strategies are left
    * to AQE: no broadcast hints, so an unexpectedly large candidate set
    * degrades to a shuffle join instead of failing the broadcast limit. */
  private def jaccardScores(sh: DataFrame, candidates: Option[DataFrame],
                            threshold: Double): DataFrame = {
    val withSizes = candidates match {
      case None => commonWithSizes(sh)
      case Some(cand) =>
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        sh.as("sa")
          .join(cand, col("sa.doc_id") === col("doc_a"))
          .join(sh.as("sb"),
            col("sb.doc_id") === col("doc_b") &&
              col("sb.shingle") === col("sa.shingle"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_common"))
          .join(sizes.withColumnRenamed("doc_id", "doc_a")
                     .withColumnRenamed("n_sh", "n_a"), "doc_a")
          .join(sizes.withColumnRenamed("doc_id", "doc_b")
                     .withColumnRenamed("n_sh", "n_b"), "doc_b")
    }
    withSizes
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Common-shingle counts with both doc sizes attached, over the full
    * (a < b) inverted-index self-join — the shared prefix of the
    * Jaccard and containment scorers (ONE definition, so an index fence
    * like the maxShingleDocFreq cap lands in both; review r18). */
  private def commonWithSizes(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    sh.as("x")
      .join(sh.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  /** Asymmetric shingle CONTAINMENT pairs: C(A in B) = |A∩B| / |A| — the
    * subset-copy detector symmetric Jaccard structurally misses. A
    * paragraph lifted verbatim into a 10× larger document has
    * J ≈ |A|/|B| (small, under any Jaccard threshold) but containment
    * ≈ 1 from the copied side. Emits every pair where EITHER direction
    * reaches `threshold`, with both directions reported (containment ≥
    * Jaccard always, so this is a superset of the Jaccard pairs at the
    * same cutoff). Identical inverted-index self-join shape and cost as
    * the Jaccard path — only the final ratios differ: each is one IEEE
    * division of two exact counts.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // same three-consumer index shape as ngramJaccardPairs (sizes +
    // both self-join sides), so the index caches — and eager-fills —
    // for the same reason
    val sh = Materialize(docShingles(docs, n))
    commonWithSizes(sh)
      .withColumn("cont_a",
        col("n_common").cast(DoubleType) / col("n_a").cast(DoubleType))
      .withColumn("cont_b",
        col("n_common").cast(DoubleType) / col("n_b").cast(DoubleType))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("doc_a", "doc_b", "cont_a", "cont_b")
  }

  /** All pairs (a < b) with word-n-gram Jaccard ≥ `threshold`, computed
    * exactly via the inverted index. The shingle index is cached for the
    * duration of the returned plan (it feeds three joins); long-lived
    * sessions issuing many dedup plans should `spark.catalog.clearCache()`
    * between them, as Bench/Verify do.
    *
    * `maxShingleDocFreq` is the 100 TB safety valve: a shingle present in
    * f documents contributes f² rows to the common-count self-join, so one
    * viral/boilerplate shingle ("click here to subscribe…") quadratically
    * dominates the shuffle at corpus scale. Capping drops shingles with
    * document frequency > cap from the INDEX (sizes and common counts
    * both — Jaccard is then computed over the capped shingle space, the
    * standard MOSS/winnowing practice: ubiquitous shingles carry no
    * near-duplicate signal). The default keeps every shingle — exact
    * semantics, and a no-op whenever cap ≥ the corpus's max document
    * frequency (DedupSpec asserts this invariance). */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxShingleDocFreq: Long = Long.MaxValue): DataFrame = {
    val sh = docShingles(docs, n)
    val pruned =
      if (maxShingleDocFreq == Long.MaxValue) sh
      else {
        // document frequency per shingle: same shape as the size agg —
        // one extra pass over the (doc_id, shingle) index, shuffling only
        // (shingle, count), before the quadratic join it protects
        val hot = sh.groupBy("shingle")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDocFreq)
          .select("shingle")
        sh.join(hot, Seq("shingle"), "left_anti")
      }
    // Materialize the multi-consumer index ONCE (eagerly) and keep it at
    // full parallelism. Two profiled sf0.1 pathologies (r19):
    //   - a lazily `.cache()`d index consumed by several branches of one
    //     downstream action is filled CONCURRENTLY by each branch's first
    //     stage — the shingle tokenize+explode+distinct ran 2–3× from
    //     parquet per dedup entry because the sizes aggregate and both
    //     self-join sides raced before any fill completed; the eager
    //     materialization makes every consumer a block read;
    //   - a keyed RESPREAD of the materialized index (to undo AQE's
    //     coalescing of the small local index to ~3 partitions) was
    //     measured and REVERTED: the lazy repartition exchange is not
    //     stage-reused across the sizes/self-join consumers, so every
    //     consumer re-shuffled the index — dedup_clusters went 2.3 s →
    //     3.1 s and dedup_clusters_incremental 3.8 s → 4.6 s with it.
    //     The few-task consumer map stages it was meant to widen cost
    //     far less than the repeated exchange.
    // At 100 TB the index is corpus-sized: the materialization is the
    // same materialize-once artifact a production pipeline persists
    // ([[writeShingleIndex]]), kept at the scan/shuffle parallelism it
    // was built with.
    jaccardScores(Materialize(pruned), None, threshold)
  }

  // --------------------------------------------------------- MinHash LSH

  /** Signature as ONE array column via the typed MinHash sketch
    * aggregate: ONE xxhash64 per shingle string, then a single long-array
    * buffer per group instead of `numHashes` separate min-aggregate slots
    * (whose generated class is large enough that Janino compilation
    * dominates cold runs). Shingles are NOT deduplicated first — a min is
    * idempotent under duplicates, so the distinct's full shuffle of
    * shingle strings would buy nothing. */
  def minhashSignatureArray(docs: DataFrame, n: Int, numHashes: Int): DataFrame = {
    val sketch = udaf(new graft.functions.MinHashSketch(numHashes),
      org.apache.spark.sql.Encoders.scalaLong)
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFunctions.shinglesFromTokens(col("toks"), n)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(sketch(col("h")).as("sig"))
  }

  /** Column-per-slot view of [[minhashSignatureArray]] (h0…h63). */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    minhashSignatureArray(docs, n, numHashes)
      .select(col("doc_id") +:
        (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)

  /** (doc_id, band, bh) LSH bucket rows of a signature table — the
    * relation [[writeLshIndex]] persists and every probe joins on. */
  def lshBuckets(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bh"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** The (band, bh) keys whose bucket population exceeds `cap` — the
    * LSH counterpart of the hot-shingle document frequency: a bucket of
    * f docs contributes f² candidate pairs to ONE join key, so a
    * degenerate bucket (near-empty docs with identical signatures,
    * corpus-wide templated text that survives shingling) funnels a
    * quadratic candidate set onto one task. One aggregation pass over
    * the bucket rows (partial map-side, shuffles only (band, bh,
    * count)) before the self-join it protects. */
  private def hotBandBuckets(buckets: DataFrame, cap: Long): DataFrame =
    buckets.groupBy("band", "bh").agg(count(lit(1)).as("sz"))
      .filter(col("sz") > cap).select("band", "bh")

  private def pruneBandBuckets(buckets: DataFrame, cap: Long): DataFrame =
    if (cap == Long.MaxValue) buckets
    else buckets.join(hotBandBuckets(buckets, cap), Seq("band", "bh"),
      "left_anti")

  /** MinHash-LSH near-dup pairs: band the signature (`bands` × `rows`),
    * bucket-join on (band index, band hash), then verify every candidate
    * pair with the exact n-gram Jaccard — output only pairs ≥ `threshold`.
    *
    * Recall: P[miss | J=s] = (1 − s^rows)^bands; at the default 16×4 and
    * s = 0.8 that is ~2e-4 per pair. Verification makes precision exact.
    */
  def minhashLshPairs(docs: DataFrame, n: Int, threshold: Double,
                      bands: Int = 16, rows: Int = 4,
                      maxBandBucketSize: Long = Long.MaxValue): DataFrame =
    minhashLshPairsFromSigs(docs,
      minhashSignatureArray(docs, n, bands * rows), n, threshold, bands,
      rows, maxBandBucketSize)

  /** [[minhashLshPairs]] over a PRECOMPUTED signature table (doc_id,
    * sig) — the shape a production corpus keeps: signatures are the
    * per-document sketch state written once per corpus version, so a
    * pipeline running several LSH consumers (pair mining, incremental
    * index builds) sketches once and shares. `sigs` must carry
    * `bands`·`rows` hashes per row ([[minhashSignatureArray]] with
    * numHashes = bands·rows).
    *
    * `maxBandBucketSize` is the 100 TB fence on the LAST uncapped pair
    * generator (mirrors `maxShingleDocFreq` / `hotFpThreshold`):
    * buckets whose population exceeds the cap are DROPPED from
    * candidate generation. Recall effect: a pair is lost only when
    * EVERY band bucket it shares is hot — for genuinely near-identical
    * docs that means the pair sits inside a ≥ cap-sized identical-
    * signature cohort (templated boilerplate at corpus scale), the
    * same no-near-dup-signal population the shingle-frequency cap
    * excludes by design. The default keeps every bucket — exact LSH
    * semantics, and a no-op whenever cap ≥ the corpus's max bucket
    * population (DedupSpec plants a degenerate bucket and asserts both
    * directions). */
  def minhashLshPairsFromSigs(docs: DataFrame, sigs: DataFrame, n: Int,
                              threshold: Double, bands: Int = 16,
                              rows: Int = 4,
                              maxBandBucketSize: Long = Long.MaxValue)
  : DataFrame = {
    val buckets =
      pruneBandBuckets(lshBuckets(sigs, bands, rows), maxBandBucketSize)
    // materialized: consumed three times below (twice in candIds' union,
    // once as the verification restriction) — without this the
    // signature + band self-join subplan re-executes per consumer.
    // Filled EAGERLY (r19): the three consumers race inside one action
    // otherwise and each recomputes the self-join before any fill lands.
    val candidates = Materialize(buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())

    // Exact verification restricted to the candidate pairs (the whole
    // point of LSH: never touch the full pair space). Only CANDIDATE
    // docs get re-shingled — at corpus scale the verification input is
    // |candidates|, not |docs|. AQE broadcasts the semi-join/candidate
    // sides while they are small; no hard hints, so a dup-heavy corpus
    // degrades to shuffle joins instead of breaking the broadcast limit.
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id"))).distinct()
    // candidate rows are checkpointed (bounded by the candidate set)
    // before the shingle fan-out: docShingles' parallelism probe
    // executes a shuffled input's upstream stages under AQE — on a
    // checkpointed RDD the probe is free and the semi-join runs once
    val candDocs = Materialize(docs.join(candIds, Seq("doc_id"), "left_semi"))
    val shingles = Materialize(docShingles(candDocs, n))
    // the materialized intermediates free with their RDDs (ContextCleaner)
    jaccardScores(shingles, Some(candidates), threshold)
  }

  /** Persist a base corpus's LSH band table for incremental sketch-probe
    * dedup: (doc_id, band, bh) bucketed + sorted on `bh`
    * ([[graft.core.Bucketing]]) — `bands`·|docs| rows of three longs,
    * written once per corpus version. This is the SKETCH counterpart of
    * [[writeShingleIndex]]: when the exact shingle index is too large to
    * persist (it is ∝ corpus tokens; the band table is ∝ documents),
    * daily increments probe THIS and re-shingle only candidates. */
  def writeLshIndex(base: DataFrame, n: Int, name: String, buckets: Int,
                    bands: Int = 16, rows: Int = 4): Unit =
    writeLshIndexFromSigs(minhashSignatureArray(base, n, bands * rows),
      name, buckets, bands, rows)

  /** [[writeLshIndex]] over a precomputed signature table — sketch once,
    * share ([[minhashLshPairsFromSigs]] scaladoc). Also persists the
    * per-bucket POPULATION (`<name>_bandsizes`: band, bh, sz — one tiny
    * row per occupied bucket) so [[incrementalMinhashLshPairs]]'s
    * hot-bucket fence never re-aggregates the corpus-sized band table
    * per increment. */
  def writeLshIndexFromSigs(sigs: DataFrame, name: String, buckets: Int,
                            bands: Int = 16, rows: Int = 4): Unit = {
    val bk = lshBuckets(sigs, bands, rows)
    graft.core.Bucketing.writeBucketed(bk, s"${name}_bands", "bh", buckets)
    graft.core.Bucketing.writeBucketed(
      bk.sparkSession.table(s"${name}_bands")
        .groupBy("band", "bh").agg(count(lit(1)).as("sz")),
      s"${name}_bandsizes", "bh", buckets)
  }

  /** Incremental MinHash-LSH near-dup pairs against a PERSISTED band
    * table ([[writeLshIndex]]): the batch's signatures compute map-side
    * (∝ batch tokens), candidate generation is ONE equi-join of the
    * batch's band rows against the bucketed table plus the intra-batch
    * band self-join, and exact-Jaccard verification re-shingles ONLY
    * candidate documents (semi-joined out of `baseDocs`/`batch` — the
    * corpus is never re-sketched or re-shingled). Output: canonical
    * (doc_a < doc_b) pairs TOUCHING the batch at ≥ `threshold` — the
    * same result [[minhashLshPairs]] over the union corpus restricted
    * to non-base-only pairs, with the same (1 − sʳ)ᵇ recall and exact
    * precision. */
  def incrementalMinhashLshPairs(spark: org.apache.spark.sql.SparkSession,
                                 name: String, baseDocs: DataFrame,
                                 batch: DataFrame, n: Int,
                                 threshold: Double, bands: Int = 16,
                                 rows: Int = 4,
                                 maxBandBucketSize: Long = Long.MaxValue)
  : DataFrame =
    incrementalLshPairsFromBuckets(
      spark.table(s"${name}_bands"),
      if (spark.catalog.tableExists(s"${name}_bandsizes"))
        Some(spark.table(s"${name}_bandsizes")) else None,
      lshBuckets(minhashSignatureArray(batch, n, bands * rows), bands, rows),
      baseDocs, batch, n, threshold, maxBandBucketSize)

  /** [[incrementalMinhashLshPairs]] against IN-PLAN base state — the
    * band rows (and optional precomputed per-bucket sizes) as
    * DataFrames instead of catalog tables, and the batch's bucket rows
    * precomputed so a caller that already sketched the batch (the
    * streaming crawl fold, which also appends those rows to its state)
    * never sketches twice. Identical semantics and fences. */
  def incrementalLshPairsFromBuckets(rawBaseBuckets: DataFrame,
                                     baseSizes: Option[DataFrame],
                                     batchBuckets0: DataFrame,
                                     baseDocs: DataFrame, batch: DataFrame,
                                     n: Int, threshold: Double,
                                     maxBandBucketSize: Long = Long.MaxValue)
  : DataFrame = {
    // the batch's bucket rows feed the cross join, the intra self-join
    // (twice), and the size fence — cached so the batch sketches ONCE
    // per fold instead of once per consumer (the base side is a
    // bucketed table scan and needs no pinning). Filled EAGERLY (r19):
    // the consumers race inside one action otherwise and each
    // recomputes the batch sketch before any fill lands.
    val rawBatchBuckets = Materialize(batchBuckets0)
    // Hot-bucket fence over the COMBINED (base + batch) population —
    // the cross join emits |base_bucket|·|batch_bucket| candidates per
    // key, so a batch doc landing in one degenerate base bucket pulls
    // the whole cohort as candidates. Base populations come from the
    // persisted `<name>_bandsizes` table when [[writeLshIndexFromSigs]]
    // wrote one (one tiny row per occupied bucket — never re-aggregate
    // the corpus-sized band table per increment); recall semantics as
    // [[minhashLshPairsFromSigs]].
    val (baseBuckets, batchBuckets) =
      if (maxBandBucketSize == Long.MaxValue) (rawBaseBuckets, rawBatchBuckets)
      else {
        val baseSz = baseSizes.getOrElse(
          rawBaseBuckets.groupBy("band", "bh")
            .agg(count(lit(1)).as("sz")))
        val hot = baseSz.select(col("band"), col("bh"), col("sz"))
          .unionByName(rawBatchBuckets.groupBy("band", "bh")
            .agg(count(lit(1)).as("sz")))
          .groupBy("band", "bh").agg(sum(col("sz")).as("tsz"))
          .filter(col("tsz") > maxBandBucketSize)
          .select("band", "bh")
        (rawBaseBuckets.join(hot, Seq("band", "bh"), "left_anti"),
          rawBatchBuckets.join(hot, Seq("band", "bh"), "left_anti"))
      }
    val cross = baseBuckets.as("x")
      .join(batchBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val intra = batchBuckets.as("x")
      .join(batchBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val candidates = Materialize(cross.unionByName(intra).distinct())
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id"))).distinct()
    // checkpointed for the same two reasons as the from-sigs path: the
    // shingle fan-out's parallelism probe is free on a checkpointed RDD
    // (no AQE re-execution of the semi-join), and the candidate rows
    // are bounded by the candidate set
    val candDocs = Materialize(baseDocs.unionByName(batch)
      .join(candIds, Seq("doc_id"), "left_semi"))
    val shingles = Materialize(docShingles(candDocs, n))
    // the materialized intermediates free with their RDDs (ContextCleaner)
    jaccardScores(shingles, Some(candidates), threshold)
  }

  /** Incremental near-dup detection: word-`n`-gram Jaccard pairs between
    * an EXISTING corpus (`base`) and a NEW increment (`batch`) — the
    * daily-crawl shape, where re-running all-pairs dedup over the whole
    * corpus per increment would be quadratic in corpus size. Only
    * cross pairs (base doc, batch doc) are scored; intra-batch dedup is
    * [[ngramJaccardPairs]] over the (small) batch.
    *
    * Scale shape: the base's hashed shingle index and per-doc sizes are
    * exactly the artifacts a production pipeline PERSISTS between
    * increments — [[writeShingleIndex]] writes them as a bucketed table
    * pair and [[incrementalJaccardPairsFromIndex]] scores a batch
    * against them with the base side read shuffle-free (DedupSpec
    * asserts the bucketed scan joins with zero Exchange). This overload
    * computes both base artifacts inline for self-containment. The
    * batch side is small, so its shingle index broadcasts under AQE and
    * the per-increment cost is ∝ batch size, never corpus size.
    *
    * Output: (doc_a ∈ base, doc_b ∈ batch, jaccard ≥ threshold). */
  def incrementalJaccardPairs(base: DataFrame, batch: DataFrame, n: Int,
                              threshold: Double): DataFrame = {
    val shB = docShingles(base, n)
    val szB = shB.groupBy("doc_id").agg(count(lit(1)).as("na"))
    incrementalScore(shB, szB, batch, n, threshold)
  }

  /** Persist a base corpus's shingle index for incremental dedup: the
    * (doc_id, shingle) inverted index bucketed + sorted on `shingle`
    * (table `<name>_shingles`) and the per-doc shingle counts
    * (`<name>_sizes`: doc_id, na). Written ONCE per corpus version;
    * every daily increment then probes the index without re-shingling
    * or re-shuffling the corpus — the bucketed layout means the
    * per-increment shingle join shuffles ONLY the batch side
    * (`bucketBy` pre-shuffles at write time; see [[graft.core.Bucketing]]).
    * Size `buckets` to target-partition bytes at the corpus's index
    * size, not to the cluster of the day. */
  def writeShingleIndex(base: DataFrame, n: Int, name: String,
                        buckets: Int): Unit = {
    val sh = docShingles(base, n).cache() // consumed twice: index + sizes
    try {
      graft.core.Bucketing.writeBucketed(sh, s"${name}_shingles", "shingle",
        buckets)
      sh.groupBy("doc_id").agg(count(lit(1)).as("na"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(s"${name}_sizes")
    } finally sh.unpersist()
  }

  /** Incremental near-dup pairs against a PERSISTED base index written
    * by [[writeShingleIndex]] — the production daily-crawl path: the
    * corpus is never re-read, the bucketed index side joins with zero
    * Exchange, and per-increment cost is ∝ batch size. Output contract
    * is identical to [[incrementalJaccardPairs]] (DedupSpec asserts
    * pair-for-pair equality). */
  def incrementalJaccardPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                       name: String, batch: DataFrame, n: Int,
                                       threshold: Double): DataFrame =
    incrementalScore(spark.table(s"${name}_shingles"),
      spark.table(s"${name}_sizes"), batch, n, threshold)

  /** Shared scoring tail of the incremental variants: join the base
    * shingle index (`shB`: doc_id, shingle) against the batch's,
    * count common shingles per cross pair, attach both size tables,
    * one exact Jaccard division. */
  private def incrementalScore(shB: DataFrame, szB: DataFrame,
                               batch: DataFrame, n: Int,
                               threshold: Double): DataFrame = {
    // NOT materialized (r19 A/B): an eager checkpoint of the batch
    // index here was measured ~1.5× SLOWER on dedup_clusters_incremental
    // (control-normalized, twice) — the lazy form lets the planner keep
    // the small batch side broadcastable inside the one consuming job,
    // which beats saving the duplicate size-aggregate evaluation
    val shN = docShingles(batch, n)
    val szN = shN.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val common = shB.as("x")
      .join(shN.as("y"), col("x.shingle") === col("y.shingle"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
    common
      .join(szB.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .join(szN.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Span-level exact dedup: repeated `words`-token windows across the
    * corpus (boilerplate headers, license blocks, navigation chrome —
    * the within-and-across-document repetition that whole-doc
    * [[exact]] cannot see). Documents are cut on the fixed
    * [[Curation.chunkDocs]] grid and identical chunks grouped by
    * fingerprint; output keeps each duplicated span's minimum owner and
    * its multiplicity, for a downstream span-removal or reweighting
    * pass.
    *
    * The fixed grid only catches ALIGNED repeats — that is the cheap
    * end of the span-dedup spectrum (one narrow pass + one 16-byte
    * fingerprint shuffle, no index); [[TextFunctions.winnowFingerprints]]
    * is the sliding-window complement that catches arbitrary-offset
    * overlap at higher index cost. Like [[exact]], the shuffle carries
    * (fingerprint, ids), never span text. */
  def duplicateSpans(docs: DataFrame, words: Int): DataFrame =
    Curation.chunkDocs(docs, words)
      .select(md5(col("chunk_text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Span REMOVAL — the consumer of [[duplicateSpans]]' report: every
    * duplicated span keeps only its FIRST occurrence (min (doc_id,
    * chunk_id) across the corpus) and each document is reassembled from
    * its surviving chunks in chunk order — the Gopher/CCNet
    * boilerplate-removal step (shared headers, license blocks, nav
    * chrome appear once in the cleaned corpus, not per page). This also
    * collapses WITHIN-document repetition: a doc made of one chunk
    * repeated k times keeps exactly one copy.
    *
    * Shape: two inherent shuffles — occurrence ranking partitions by the
    * 16-byte fingerprint (row_number over (doc_id, chunk_id): a total
    * order, so survivor choice is deterministic), reassembly partitions
    * by doc_id. Chunk text crosses the wire once for the rebuild; the
    * dedup decision itself rides the fingerprint. Documents whose every
    * chunk was removed elsewhere's duplicate are ABSENT from the output
    * (nothing left to reassemble) — callers keeping empty shells left
    * join on the original ids. */
  def removeDuplicateSpans(docs: DataFrame, words: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = Window.partitionBy("fp").orderBy("doc_id", "chunk_id")
    Curation.chunkDocs(docs, words)
      .withColumn("fp", md5(col("chunk_text")))
      .withColumn("occ", row_number().over(occ))
      .filter(col("occ") === 1)
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(
          array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          c => c.getField("chunk_text"))).as("text"))
  }

  /** Occurrence count at which a duplicated-window fingerprint is
    * routed through [[duplicatedWindows]]' broadcast (hot) path instead
    * of the fp-partitioned shuffle join. The hot list is provably
    * bounded: at most corpus_windows / threshold fingerprints can
    * exceed it, so at 10¹³ corpus tokens and this default the broadcast
    * side is ≤ ~2.4M rows × 32 bytes ≈ 76 MB worst case, and in any
    * real corpus far smaller (boilerplate fps are few). */
  val DefaultHotFpThreshold: Long = 1L << 22

  /** Shared first half of the ExactSubstr family (feeds
    * [[spansFromWindows]] and [[removeSubstringsFromWindows]], and is
    * the relation a 100 TB deployment materializes beside the corpus):
    * one row per OCCURRENCE of a duplicated `l`-token sliding window —
    * (doc_id, pos, fp, sdoc, spos), where (sdoc, spos) is the window's
    * corpus-wide survivor occurrence (lexicographic min (doc_id, pos)
    * over its fingerprint, chosen by ONE min-struct aggregate in the
    * same pass as the duplicate count — never a per-fp sort).
    *
    * Tokenize + fingerprint are pure map-side (one `explode` over
    * positions, md5 over a bounded `slice`); the only data-sized
    * shuffles carry (16-byte fp, doc_id, pos) — never window text —
    * and the duplicate/survivor stats are one partial-aggregated pass.
    *
    * Skew contract (the license-block case this operator exists to
    * find IS its own worst key): a corpus-wide boilerplate window puts
    * every occurrence on one fingerprint, and a plain fp-partitioned
    * join would funnel all of them through one task. Fingerprints with
    * ≥ `hotFpThreshold` occurrences are therefore split out: their
    * (fp, sdoc, spos) rows — bounded by corpus_windows / threshold, see
    * [[DefaultHotFpThreshold]] — BROADCAST, so hot occurrences join
    * map-side in their scan partitions and never shuffle on fp; only
    * sub-threshold fingerprints (≤ threshold rows per key by
    * construction) take the shuffle join, with the hot keys excluded
    * map-side by a broadcast anti-join. Results are identical at any
    * threshold (DedupSpec plants a corpus-wide window and checks). */
  def duplicatedWindows(docs: DataFrame, l: Int,
                        hotFpThreshold: Long = DefaultHotFpThreshold)
  : DataFrame = {
    val wins = allWindows(docs, l)
    joinWindowsWithStats(wins,
      windowStats(wins).filter(col("n_occ") > 1), hotFpThreshold)
  }

  /** (doc_id, pos, fp) of EVERY `l`-token sliding window — the
    * occurrence half of the persisted ExactSubstr index (pure map-side:
    * one explode over positions, md5 over a bounded slice). */
  def allWindows(docs: DataFrame, l: Int): DataFrame = {
    require(l >= 2, s"window must span at least 2 tokens, got $l")
    // tokenize + per-window md5 is the family's heaviest map stage:
    // spread it to all cores when the doc scan plans fewer partitions
    // than the session has (guide §2.5; no-op at corpus scale)
    graft.core.Partitioning.spread(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
      .where(size(col("w")) >= l)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - l + 1)).as("pos"), col("w"))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        md5(concat_ws(" ", slice(col("w"), col("pos"), lit(l)))).as("fp"))
  }

  /** Per-fingerprint stats over a window-occurrence relation: (fp,
    * n_occ, sdoc, spos) for EVERY fingerprint — occurrence count and
    * survivor (lexicographic min (doc_id, pos)) in ONE partial-
    * aggregated pass. UNFILTERED (singletons kept): the incremental
    * fold needs them — a batch window colliding with a base SINGLETON
    * is exactly the 1→2 crossing that creates a new duplication. */
  def windowStats(wins: DataFrame): DataFrame =
    wins.groupBy("fp")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("s"))
      .select(col("fp"), col("n_occ"),
        col("s.doc_id").as("sdoc"), col("s.pos").as("spos"))

  /** Merge two [[windowStats]] relations (disjoint corpora): counts
    * add, survivors take the lexicographic min — a full-outer fp join,
    * cost ∝ |keys|, no text, no occurrence rows. */
  def mergeWindowStats(a: DataFrame, b: DataFrame): DataFrame = {
    val l0 = a.select(col("fp"), col("n_occ").as("na"),
      struct(col("sdoc"), col("spos")).as("sa"))
    val r0 = b.select(col("fp"), col("n_occ").as("nb"),
      struct(col("sdoc"), col("spos")).as("sb"))
    l0.join(r0, Seq("fp"), "full_outer")
      .select(col("fp"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)))
          .as("n_occ"),
        when(col("sa").isNull, col("sb"))
          .when(col("sb").isNull, col("sa"))
          .when(col("sa") < col("sb"), col("sa")).otherwise(col("sb"))
          .as("s"))
      .select(col("fp"), col("n_occ"),
        col("s.sdoc").as("sdoc"), col("s.spos").as("spos"))
  }

  /** The skew-fenced occurrence ⋈ stats join shared by the batch and
    * incremental paths (see [[duplicatedWindows]]' skew contract):
    * `dupStats` must already be filtered to n_occ > 1; fingerprints at
    * ≥ `hotFpThreshold` occurrences broadcast (bounded count), the
    * rest take the shuffle join with hot keys anti-fenced map-side. */
  private[graft] def joinWindowsWithStats(wins: DataFrame,
                                          dupStats: DataFrame,
                                          hotFpThreshold: Long): DataFrame = {
    require(hotFpThreshold >= 2,
      s"hotFpThreshold must be >= 2, got $hotFpThreshold")
    val hot = dupStats.filter(col("n_occ") >= hotFpThreshold)
      .select("fp", "sdoc", "spos")
    val warm = dupStats.filter(col("n_occ") < hotFpThreshold)
      .select("fp", "sdoc", "spos")
    val hotRows = wins.join(broadcast(hot), Seq("fp"))
    val warmRows = wins
      .join(broadcast(hot.select("fp")), Seq("fp"), "left_anti")
      .join(warm, Seq("fp"))
    hotRows.unionByName(warmRows)
      .select("doc_id", "pos", "fp", "sdoc", "spos")
  }

  /** Incremental ExactSubstr — the daily-crawl fold: given the
    * PERSISTED index of the base corpus (its [[allWindows]] occurrence
    * table and [[windowStats]] per-fp stats, maintained beside the
    * corpus exactly like the bucketed shingle index of
    * [[incrementalJaccardPairs]]) and a new-document batch, produce the
    * duplicated-window relation of the UNION corpus — equal by
    * construction to `duplicatedWindows(base ∪ batch)` (spec + gate
    * proven) — WITHOUT re-tokenizing or re-fingerprinting a single base
    * document.
    *
    * Per-increment cost: fingerprint the batch (map-side, ∝ batch
    * tokens), ONE stats merge (fp-keyed join of batch stats against the
    * persisted stats table — bucket the table by fp on a real lake and
    * the base side never shuffles), and the occurrence ⋈ dup-stats
    * join. The base occurrence table is re-scanned (map-side, no
    * shuffle: dup fps semi-join against it), which is what makes the
    * 1→2 crossing exact — a batch window colliding with a base
    * SINGLETON surfaces the base occurrence too, the case a
    * duplicates-only index would silently miss. Downstream consumers
    * ([[spansFromWindows]], [[removeSubstringsFromWindows]],
    * [[substringDupRateFromWindows]]) apply unchanged to the result. */
  def duplicatedWindowsIncremental(baseWins: DataFrame,
                                   baseStats: DataFrame,
                                   batchDocs: DataFrame, l: Int,
                                   hotFpThreshold: Long =
                                     DefaultHotFpThreshold): DataFrame = {
    val batchWins = allWindows(batchDocs, l)
    val merged = mergeWindowStats(baseStats, windowStats(batchWins))
      .filter(col("n_occ") > 1)
    // join each side separately (join distributes over union): a
    // BUCKETED base occurrence table then reads its buckets with zero
    // exchange — unioning before the join would discard the bucket
    // property and re-shuffle the whole corpus per increment
    joinWindowsWithStats(baseWins, merged, hotFpThreshold)
      .unionByName(joinWindowsWithStats(batchWins, merged, hotFpThreshold))
  }

  /** Persist a base corpus's ExactSubstr index for incremental substring
    * dedup: the window-occurrence table (`<name>_wins`: doc_id, pos, fp)
    * and the per-fp stats (`<name>_stats`: fp, n_occ, sdoc, spos), both
    * bucketed + sorted on `fp` ([[graft.core.Bucketing]]) — written ONCE
    * per corpus version, so every daily increment's fp-keyed joins read
    * the base side through its buckets with zero Exchange (DedupSpec
    * asserts `SelectedBucketsCount` + the single batch-side shuffle).
    * Size `buckets` to target-partition bytes at the index's volume
    * (~32 bytes per corpus token position). */
  def writeSubstrIndex(base: DataFrame, l: Int, name: String,
                       buckets: Int): Unit = {
    graft.core.Bucketing.writeBucketed(allWindows(base, l),
      s"${name}_wins", "fp", buckets)
    val spark = base.sparkSession
    graft.core.Bucketing.writeBucketed(
      windowStats(spark.table(s"${name}_wins")),
      s"${name}_stats", "fp", buckets)
  }

  /** [[duplicatedWindowsIncremental]] against a PERSISTED index written
    * by [[writeSubstrIndex]] — the production daily-crawl path: base
    * documents are never re-tokenized AND the index side never
    * re-shuffles. */
  def duplicatedWindowsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 name: String, batchDocs: DataFrame, l: Int,
                                 hotFpThreshold: Long =
                                   DefaultHotFpThreshold): DataFrame =
    duplicatedWindowsIncremental(spark.table(s"${name}_wins"),
      spark.table(s"${name}_stats"), batchDocs, l, hotFpThreshold)

  /** Maximal duplicated-substring spans — the arbitrary-offset exact
    * substring dedup of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ExactSubstr), re-expressed as relational
    * passes instead of a suffix array: every `l`-token sliding window
    * is fingerprinted; a window is DUPLICATED when its fingerprint
    * occurs more than once in the corpus; per document,
    * overlapping-or-adjacent duplicated windows merge into maximal
    * covered spans (a token is covered when some duplicated window
    * contains it, so windows at positions p and q merge iff q ≤ p + l).
    *
    * Unlike [[duplicateSpans]]' fixed 64-token grid (aligned repeats
    * only), this catches a shared substring at ANY offset in both
    * documents — the shape license blocks, quoted passages, and
    * templated boilerplate actually take.
    *
    * Scale shape: [[duplicatedWindows]]' map-side fingerprints + one
    * partial-agg count; the merge is a per-document window function
    * (partitioned by doc_id, bounded by document length — no global
    * sort). Total cost is O(corpus tokens), the same asymptotics as
    * the suffix array, in three shuffles.
    *
    * Output: (doc_id, span_start, span_end, span_tokens), positions
    * 1-based inclusive on the `\s+`-token grid. Documents shorter than
    * `l` tokens have no windows and never appear.
    *
    * Reference scope: the reference engine has no substring-level
    * dedup; this extends the dedup family for LLM-corpus curation
    * alongside [[exact]]/[[duplicateSpans]]/[[minhashLshPairs]]. */
  def maximalDuplicateSpans(docs: DataFrame, l: Int): DataFrame =
    spansFromWindows(duplicatedWindows(docs, l), l)

  /** [[maximalDuplicateSpans]] over a PRE-COMPUTED duplicated-window
    * relation (the [[duplicatedWindows]] output, typically materialized
    * once beside the corpus and shared by the whole substr family —
    * spans, rate, removal, and the curation chain each consume the same
    * table instead of re-fingerprinting the corpus). */
  def spansFromWindows(wins: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    wins
      .select("doc_id", "pos")
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + l, 1L)
          .otherwise(0L))
      .withColumn("island",
        sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"), (max("pos") + (l - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Corpus-level duplicated-substring rate per source — the audit
    * consumer of [[maximalDuplicateSpans]]: how much of each source's
    * token mass sits inside a duplicated ≥`l`-token substring (the
    * number ExactSubstr removal would delete). Documents shorter than
    * `l` count toward `n_docs`/`total_tokens` with zero dup mass. */
  def substringDupRate(docs: DataFrame, l: Int): DataFrame =
    substringDupRateFromWindows(docs, duplicatedWindows(docs, l), l)

  /** [[substringDupRate]] over a pre-computed [[duplicatedWindows]]
    * relation (see [[spansFromWindows]]). */
  def substringDupRateFromWindows(docs: DataFrame, wins: DataFrame,
                                  l: Int): DataFrame = {
    val perDoc = spansFromWindows(wins, l)
      .groupBy("doc_id")
      .agg(sum("span_tokens").as("doc_dup_tokens"))
    docs
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("doc_dup_tokens")).as("docs_with_dups"),
        coalesce(sum("doc_dup_tokens"), lit(0L)).as("dup_tokens"),
        sum("n_tokens").as("total_tokens"))
  }

  /** Window-length sensitivity report for the ExactSubstr family —
    * Lee et al. fix l = 50 tokens by eyeballing this exact curve; the
    * report makes the choice data-driven: corpus-wide duplicated token
    * mass (and span/doc counts) at each candidate window length, one
    * [[duplicatedWindows]] fingerprint pass per l (each pass is the
    * same O(corpus tokens) map-side pipeline; the passes share the
    * tokenize scan shape but nothing forces them into one job — run it
    * at corpus-audit cadence, not per query).
    *
    * Monotonicity law (spec-pinned): covered-token mass is
    * NON-INCREASING in l — a duplicated 2l-window's sub-l-windows are
    * each duplicated too, so coverage at smaller l is a superset. A
    * report violating that is a bug, not a corpus property. */
  def substringDupSensitivity(docs: DataFrame, ls: Seq[Int],
                              hotFpThreshold: Long = DefaultHotFpThreshold)
  : DataFrame = {
    require(ls.nonEmpty && ls.distinct.size == ls.size,
      s"window lengths must be non-empty distinct, got $ls")
    // ONE corpus pass for ALL window lengths (r18, guide §1.2 step 1):
    // the per-l union form tokenized and fingerprinted the corpus once
    // PER l, and its branches ran concurrently inside one job — at
    // sf0.1 that oversubscribed every core 4× and tripled total CPU;
    // at corpus scale it is |ls| redundant corpus scans. Here the
    // corpus is tokenized once, every l's windows fan out in the same
    // map stage (same md5 family, same window set per l), and ONE
    // (l, fp)-keyed aggregate + ONE (l, doc)-partitioned island pass
    // serve every report row. Results are identical per l; ls values
    // with zero duplicated windows still emit their zero row (the
    // left join below), matching the old per-l aggregate-without-
    // groupBy semantics and the oracle.
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val lArr = s"array(${ls.mkString(", ")})"
    val toks = graft.core.Partitioning.spread(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
      .where(size(col("w")) >= ls.min)
    val wins = toks
      .select(col("doc_id"), explode(expr(
        s"""flatten(transform(filter($lArr, l -> size(w) >= l), l ->
              transform(sequence(1, size(w) - l + 1),
                p -> struct(l AS l, CAST(p AS BIGINT) AS pos,
                            md5(concat_ws(' ', slice(w, p, l))) AS fp))))"""
      )).as("win"))
      .select(col("doc_id"), col("win.l").as("l"),
        col("win.pos").as("pos"), col("win.fp").as("fp"))
    // duplicated fps per l, with the family's hot-fp fence (the
    // boilerplate fingerprint IS this audit's worst key too): hot fps
    // broadcast so their occurrences join map-side, warm fps take the
    // (l, fp) shuffle with hot keys anti-fenced.
    val stats = wins.groupBy("l", "fp")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    val hot = stats.filter(col("n_occ") >= hotFpThreshold).select("l", "fp")
    val warm = stats.filter(col("n_occ") < hotFpThreshold).select("l", "fp")
    val dw = wins.join(broadcast(hot), Seq("l", "fp"))
      .unionByName(
        wins.join(broadcast(hot), Seq("l", "fp"), "left_anti")
          .join(warm, Seq("l", "fp")))
      .select("l", "doc_id", "pos")
    val byDoc = Window.partitionBy("l", "doc_id").orderBy("pos")
    val spans = dw
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + col("l"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("l", "doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + col("l") - 1).as("span_end"))
      .select(col("l"), col("doc_id"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
    val perL = spans.groupBy("l").agg(
      count(lit(1)).as("n_spans"),
      count_distinct(col("doc_id")).as("docs_with_dups"),
      coalesce(sum("span_tokens"), lit(0L)).as("dup_tokens"))
    val lsDf = spark.createDataset(ls)(
      org.apache.spark.sql.Encoders.scalaInt).toDF("l")
    lsDf.join(perL, Seq("l"), "left")
      .select(col("l"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("docs_with_dups"), lit(0L)).as("docs_with_dups"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy("l")
  }

  /** ExactSubstr REMOVAL — the consumer of the span report: each
    * duplicated `l`-token window keeps its FIRST corpus occurrence
    * (lexicographic min (doc_id, pos) per fingerprint) and every other
    * occurrence is deleted. Token-level semantics: a token is removed
    * iff it is covered by at least one duplicated window AND by no
    * surviving occurrence — so the first copy of a shared passage
    * stays intact (every its token is survivor-covered) while later
    * copies lose exactly the duplicated region. Like the reference
    * ExactSubstr cut, removal can leave partial fragments at repeat
    * boundaries (a trailing sub-`l` prefix of a within-doc repeat
    * survives because no duplicated window covers only it).
    *
    * Shape: survivor choice is ONE lexicographic min-struct aggregate
    * per fingerprint (no per-fp window — a boilerplate fingerprint with
    * millions of occurrences partial-aggregates instead of sorting one
    * hot partition); coverage expands each duplicated window to its
    * ≤`l` covered positions map-side and resolves per-token survival
    * with a second aggregate; reassembly is the same ordered
    * collect_list-per-doc as [[removeDuplicateSpans]]. Everything
    * shuffles ids and positions, never text (tokens rejoin by
    * (doc_id, pos) equi-join at the end).
    *
    * Output: (doc_id, text) with whitespace normalized to single
    * spaces; documents whose every token was removed are absent. */
  def removeDuplicateSubstrings(docs: DataFrame, l: Int): DataFrame =
    removeSubstringsFromWindows(docs, duplicatedWindows(docs, l), l)

  /** [[removeDuplicateSubstrings]] over a pre-computed
    * [[duplicatedWindows]] relation (see [[spansFromWindows]]). The
    * survivor occurrence rides each window row (sdoc, spos — chosen
    * inside [[duplicatedWindows]]' single stats aggregate), so removal
    * adds NO fp-keyed shuffle of its own: coverage expands map-side and
    * resolves per-token survival partitioned by doc_id. */
  def removeSubstringsFromWindows(docs: DataFrame, wins: DataFrame,
                                  l: Int): DataFrame = {
    val tokenFate = wins
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (l - 1))).as("p"),
        (col("doc_id") === col("sdoc") && col("pos") === col("spos"))
          .cast(LongType).as("is_surv"))
      .groupBy("doc_id", "p")
      .agg(max("is_surv").as("surv_covered"))
      .filter(col("surv_covered") === 0L)
      .select(col("doc_id"), col("p").as("removed_p"))
    val toks = docs
      .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("p"),
        col("col").as("tok"))
    toks.join(tokenFate,
        toks("doc_id") === tokenFate("doc_id") &&
          toks("p") === tokenFate("removed_p"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          c => c.getField("tok"))).as("text"))
  }

  // ------------------------------------------- near-dup pair clustering

  /** Connected components over a near-duplicate pair graph — the final
    * step of every dedup pipeline: pair lists ((a,b), (b,c)) must become
    * clusters ({a,b,c}) before survivors can be chosen, or transitive
    * duplicates survive in different pairs.
    *
    * Min-label propagation: every vertex starts as its own component and
    * repeatedly adopts the smallest component id among itself and its
    * neighbors, until no label changes — each round is ONE shuffle join
    * of (edge endpoints × labels) plus a min-aggregate, and the label
    * table is two longs per vertex regardless of corpus size. Rounds =
    * graph diameter; dedup graphs are unions of near-cliques (pairs come
    * from a similarity threshold), so this converges in 2–3 rounds.
    * For adversarial long-chain graphs the O(log n) upgrade is
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"); not needed for threshold graphs.
    *
    * Materializing after each round truncates the growing lineage
    * (iterative plans otherwise double per round and overwhelm the
    * optimizer). Without a session checkpoint dir that is a local
    * checkpoint — blocks live on executor storage, fastest, but a lost
    * executor kills the job. A session with a checkpoint dir (Spark's
    * `spark.checkpoint.dir`, HDFS/S3 on a real cluster; see
    * [[graft.core.Materialize]]) gets RELIABLE checkpoints instead: each
    * round's label table is persisted to fault-tolerant storage, so
    * executor loss mid-propagation recomputes from the last round's
    * files, never from the raw pair join. The table is two longs per
    * vertex, so the per-round write is tiny relative to the join it
    * protects.
    *
    * Output: (idCol, cluster_id) for EVERY vertex — cluster_id = the
    * minimum member id, so `idCol == cluster_id` selects survivors.
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame = {
    // materialize the pair plan BEFORE mirroring it: union(plan, plan')
    // embeds the (expensive) pair-generation subplan twice in one job
    val p = Materialize(pairs.select(col("doc_a"), col("doc_b")))
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // (r18 note: seeding only pair ENDPOINTS and rejoining singletons at
    // the end was tried and MEASURED SLOWER here — threshold pair graphs
    // cover most of the corpus, so the label table barely shrank while
    // the endpoint distinct, the semi-join, and the final singleton
    // join added three stages per run. Whole-vertex seeding stays.)
    var comp = Materialize(
      vertices.select(col(idCol).as("id")).distinct()
        .withColumn("comp", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val nbrMin = edges
        .join(comp.select(col("id").as("nid"), col("comp").as("ncomp")),
          col("dst") === col("nid"))
        .groupBy("src")
        .agg(min("ncomp").as("nbr_comp"))
      // the changed flag rides the round's own projection (r19): the
      // old-vs-new label pair is already co-resident in this row, so the
      // convergence probe below is a filter+count over the checkpointed
      // round instead of a second vertex×vertex shuffle join per round
      val next = Materialize(
        comp.join(nbrMin, col("id") === col("src"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
            (coalesce(col("nbr_comp"), col("comp")) < col("comp")).as("__chg")),
        eager = false) // lazy: the convergence count below is the
      // one action that materializes this round — eager would cost a
      // second job per round for the same data
      changed = next.filter(col("__chg")).count()
      // control-flow only: the driver sees a count, never rows
      comp = next
      rounds += 1
    }
    // a non-converged exit must FAIL, not return: labels where one
    // component's members still disagree would let transitive
    // duplicates survive dedup silently (review r18 — the alternating
    // variant below has always thrown here; plain min-propagation
    // converges in O(diameter) rounds, so a 50-round graph is a long
    // chain the star-contraction variant handles in O(log n))
    require(changed == 0,
      s"connectedComponents: not converged after $rounds rounds " +
        "(component diameter > 50) — use connectedComponentsAlternating, " +
        "whose star-contraction rounds are logarithmic in component size")
    comp.select(col("id").as(idCol), col("comp").as("cluster_id"))
  }

  /** Incremental connected components: fold a NEW batch into PERSISTED
    * cluster labels without re-clustering the corpus — the label-side
    * twin of [[incrementalJaccardPairsFromIndex]], completing the
    * daily-crawl loop (index probe → new pairs → label update).
    *
    * Because cluster_id = the component's minimum member id and every
    * persisted root is already the min of its old cluster, merging
    * reduces to components over a TINY graph: new edges lifted to
    * their endpoints' roots, plus the batch vertices. Propagation runs
    * on that graph only, then relabels just the touched base clusters
    * via one root→new-root join. Cost ∝ batch + touched clusters —
    * never corpus size; untouched labels stream through unchanged.
    *
    * Output contract is identical to [[connectedComponents]] over the
    * UNION graph (DedupSpec asserts equality; the gate checks the
    * composed daily-crawl pipeline against the whole-corpus
    * recursive-closure oracle — pairwise Jaccard makes the union of
    * base, batch, and cross pairs exactly the all-pairs set).
    *
    * @param baseLabels persisted (idCol, cluster_id) for the base corpus
    * @param newVertices the batch's vertex set (idCol)
    * @param newPairs (doc_a, doc_b) pairs touching the batch: cross
    *                 base×batch pairs and intra-batch pairs */
  def incrementalConnectedComponents(baseLabels: DataFrame,
                                     newVertices: DataFrame, idCol: String,
                                     newPairs: DataFrame): DataFrame = {
    val lbl = baseLabels.select(col(idCol).as("lid"), col("cluster_id"))
    // a re-crawled id (present in BOTH baseLabels and the batch) is
    // already labeled — it must ride the base-update path only, or the
    // union below would emit two conflicting labels for it (its pairs
    // lift to its existing root either way)
    val trulyNew = newVertices.select(col(idCol))
      .join(lbl.select(col("lid").as(idCol)), Seq(idCol), "left_anti")
    // materialize the lifted edges ONCE: this relation fans out to the
    // tiny vertex set, the propagation seed, AND the checkpointed edge
    // mirror below — without the checkpoint each branch re-evaluates
    // the whole upstream pair-scoring plan (measured 3× the entry cost
    // at sf0.1 when the caller feeds live-scored pairs)
    val lifted = Materialize(newPairs.select(col("doc_a"), col("doc_b"))
      .join(lbl.select(col("lid").as("doc_a"), col("cluster_id").as("ra")),
        Seq("doc_a"), "left")
      .join(lbl.select(col("lid").as("doc_b"), col("cluster_id").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b")))
    val tinyV = lifted.select(col("doc_a").as(idCol))
      .union(lifted.select(col("doc_b").as(idCol)))
      .union(trulyNew)
      .distinct()
    // min-label propagation over roots + batch ids only; a root is its
    // old cluster's min, so the merged min-member invariant holds
    val tiny = connectedComponents(tinyV, idCol, lifted)
    val rootMap = tiny
      .select(col(idCol).as("old_root"), col("cluster_id").as("new_root"))
    val updatedBase = baseLabels
      .join(rootMap, col("cluster_id") === col("old_root"), "left")
      .select(col(idCol),
        coalesce(col("new_root"), col("cluster_id")).as("cluster_id"))
    val batchLabels = tiny
      .join(trulyNew, Seq(idCol), "left_semi")
    updatedBase.union(batchLabels)
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round alternative to [[connectedComponents]]'s
    * min-label propagation, whose round count is the graph DIAMETER.
    * Near-dup threshold graphs are unions of near-cliques (diameter
    * 2–3), so propagation is the right default; use this variant when
    * the pair graph can contain adversarial long chains (e.g. chained
    * plagiarism, sliding near-dup windows), where diameter ~ n but
    * star-contraction still converges in O(log n) rounds.
    *
    * Each round is two edge-local steps, both single shuffles:
    *   - large-star: every node connects its strictly-LARGER neighbors
    *     to the minimum of its neighborhood (incl. itself);
    *   - small-star: every node connects its smaller-or-equal neighbors
    *     (and itself) to that minimum.
    * The edge set monotonically contracts toward one star per
    * component, rooted at the component minimum. Convergence is
    * detected by testing the star-forest property directly (one keyed
    * aggregate per round, no rows to the driver — see the inline proof
    * at `starViolations`), which exits the moment the contraction lands
    * on a fixed point instead of paying one extra round to observe a
    * fingerprint repeat; per-round materialization truncates lineage
    * exactly as in [[connectedComponents]].
    *
    * Output contract is identical to [[connectedComponents]]:
    * (idCol, cluster_id) for every vertex, cluster_id = min member id.
    *
    * Exit is VALIDATED, never silent: the loop can only exit into label
    * emission with zero star violations (the same condition the old
    * post-loop validation asserted), and hitting `maxRounds` without
    * convergence throws — a chain residue can never emit wrong or
    * duplicate (id, cluster_id) rows.
    */
  def connectedComponentsAlternating(vertices: DataFrame, idCol: String,
                                     pairs: DataFrame,
                                     maxRounds: Int = 50): DataFrame = {
    val p = Materialize(pairs.select(col("doc_a"), col("doc_b")))
    // canonical undirected edges (lo < hi), self-loops dropped
    var edges = Materialize(p
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        // m = min(Γ(u) ∪ {u}) ≤ u < v, so (m, v) is already canonical
        .select(col("m").as("lo"), col("v").as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // smaller-or-equal neighborhood of hi is exactly its lo side
      val mins = e.groupBy("hi").agg(min("lo").as("m"))
      val relink = e.join(mins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
      val anchor = mins.select(col("m").as("lo"), col("hi"))
      relink.union(anchor).distinct()
    }

    // Convergence probe = the star-forest test itself (r19; previously a
    // (count, hash-sum) fingerprint compared ACROSS rounds, which only
    // detects the fixed point one full largeStar∘smallStar round AFTER
    // reaching it). A canonical (lo < hi) edge set is a forest of
    // min-rooted stars iff no node appears both as a root (lo side) and
    // as a member (hi side) and no member has two roots (duplicate hi) —
    // and ANY such star forest is a fixed point of both steps (largeStar
    // and smallStar map every star to itself), so testing the property
    // directly exits as soon as the contraction lands on it. Correctness
    // of the emitted labels needs no extra check: both steps preserve
    // the component partition (Kiveris et al., Lemmas 1–2), so a star's
    // node set IS one original component, and lo < hi on every edge
    // makes its root that component's minimum. One keyed aggregate over
    // the stacked endpoint roles of the contracted (shrinking) edge set
    // — the same cost as the post-loop validation it replaces, and it
    // doubles as the action materializing each round's checkpoint.
    def starViolations(e: DataFrame): Long =
      e.select(col("hi").as("v"), lit(1L).as("as_hi"), lit(0L).as("as_lo"))
        .union(e.select(col("lo").as("v"), lit(0L).as("as_hi"),
          lit(1L).as("as_lo")))
        .groupBy("v")
        .agg(sum("as_hi").as("nh"), sum("as_lo").as("nl"))
        .filter(col("nh") > 1 || (col("nh") > 0 && col("nl") > 0))
        .count()

    var violations = starViolations(edges)
    var rounds = 0
    while (violations > 0 && rounds < maxRounds) {
      edges = Materialize(smallStar(largeStar(edges)), eager = false)
      violations = starViolations(edges) // materializes the round
      rounds += 1
    }
    if (violations > 0)
      throw new IllegalStateException(
        s"connectedComponentsAlternating did not converge in $maxRounds " +
          "rounds — refusing to emit labels from a non-fixed-point edge " +
          "set (raise maxRounds; O(log n) convergence means a legitimate " +
          "graph needs ~2·log2(n) rounds)")
    vertices.select(col(idCol).as("id")).distinct()
      .join(edges.select(col("hi").as("id"), col("lo").as("root")),
        Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("root"), col("id")).as("cluster_id"))
  }

  // ------------------------------------------------------------- SimHash

  /** SimHash over whitespace tokens (term-frequency weighted): bit i of
    * the signature = sign of Σ_tokens tf · (±1 per bit of the token
    * hash). One typed aggregate holds the 64 bit-sums in a single array
    * buffer and packs the signature in `finish` (see
    * [[graft.functions.SimHashSketch]] for why not 64 sum columns).
    *
    * Token-hash family: the 48-bit md5-derived integer polynomial
    * ([[Curation.hexIntSql]]) rather than `xxhash64` — the two are
    * equivalent simhash carriers (i.i.d. bits per token is all the
    * sketch needs; Hamming blocking and pair semantics are unchanged),
    * but md5 is replayable in ANSI SQL, so the whole pipeline
    * (tokenize → tf → hash → bit-sums → signature → Hamming pairs) is
    * DuckDB-checkable bit-for-bit where xxhash64 forced a rows-only
    * gate (VERDICT r15). Bits 48–63 of every token hash are 0 →
    * signature bits 48–63 are constantly 0 — a 48-bit simhash, which
    * changes nothing structural (XOR popcount ignores constant bits). */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val sketch = udaf(new graft.functions.SimHashSketch,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    graft.core.Tables.spread(docs)
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
      .withColumn("__h", md5(col("tok")))
      .select(col("doc_id"),
        expr(Curation.hexIntSql("__h")).as("th"), col("tf"))
      .groupBy("doc_id")
      .agg(sketch(col("th"), col("tf")).as("simhash"))
  }

  /** All pairs within Hamming distance `maxHamming` (≤ 3 for the default
    * 4-chunk blocking): split the 64-bit signature into 4 16-bit chunks;
    * any pair with ≤ 3 differing bits shares at least one chunk
    * (pigeonhole), so the chunk-equality self-join has perfect recall;
    * `bit_count(xor)` filters exactly. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    // 48 significant bits (the md5₄₈ token family) → 4×12-bit chunks
    hammingPairsFromSigs(simhashSignatures(docs), "simhash", maxHamming,
      sigBits = 48)

  /** The pigeonhole Hamming join over ANY 64-bit signature table
    * (doc_id, `sigCol`) — the blocking machinery [[simhashPairs]] and
    * the perceptual image-dedup path
    * ([[graft.operators.Multimodal.imageSignature]]) share: 4 chunk
    * keys per doc shuffle (never payloads), the chunk-equality
    * self-join has PERFECT recall for Hamming ≤ 3 (a pair with ≤ 3
    * differing bits cannot differ in all 4 chunks), and `bit_count
    * (xor)` verifies exactly — output (doc_a, doc_b, hamming) is
    * bit-identical to the O(n²) pair walk restricted to ≤ maxHamming,
    * at block-join cost. */
  def hammingPairsFromSigs(sigs: DataFrame, sigCol: String,
                           maxHamming: Int = 3,
                           sigBits: Int = 64): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking guarantees recall only for Hamming <= 3")
    val chunks = sigChunks(sigs, sigCol, sigBits)
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x._sig").bitwiseXOR(col("y._sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The 4-chunk rows of a signature table: (doc_id, _sig, chunk, ck)
    * — the blocking keys of [[hammingPairsFromSigs]] /
    * [[incrementalHammingPairs]]. Chunk width adapts to the
    * SIGNIFICANT bit count (`sigBits`): a fixed 4×16 split over a
    * 48-bit simhash would leave chunk 3 constantly 0 — every doc lands
    * in ONE (chunk, ck) bucket and the "blocked" self-join silently
    * degenerates to the full n²/2 cross product on a single skewed key
    * (review r18; results stayed correct through the exact xor filter,
    * but at corpus scale the hot bucket IS the blowup the blocking
    * exists to prevent). ⌈sigBits/4⌉-bit chunks keep the pigeonhole
    * recall proof (4 disjoint ranges cover every significant bit, so
    * ≤ 3 flipped bits leave ≥ 1 chunk equal) and restore ~sigBits/4
    * bits of entropy per blocking key. */
  private def sigChunks(sigs: DataFrame, sigCol: String,
                        sigBits: Int): DataFrame = {
    require(sigBits >= 4 && sigBits <= 64,
      s"sigBits must be in [4, 64], got $sigBits")
    val w = (sigBits + 3) / 4
    val mask = (1L << w) - 1L
    sigs.select(col("doc_id"), col(sigCol).as("_sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col(sigCol), c * w).bitwiseAND(lit(mask)).as("ck"))): _*))
        .as("b"))
      .select(col("doc_id"), col("_sig"), col("b.chunk").as("chunk"),
        col("b.ck").as("ck"))
  }

  /** Incremental Hamming dedup — the daily-crawl shape for signature
    * families (SimHash text sketches, perceptual image hashes): pairs
    * within `maxHamming` TOUCHING the batch, against a persisted base
    * signature corpus that is never re-hashed or self-joined. One
    * (chunk, ck) equi-join of the batch's chunk rows against the
    * base's (at 100 TB a bucketed chunk table — four thin rows per
    * corpus item, [[writeLshIndex]]'s layout in chunk terms) plus the
    * intra-batch self-join; exact `bit_count(xor)` verification keeps
    * precision exact, and the 4-chunk pigeonhole keeps recall PERFECT
    * at Hamming ≤ 3 — output ≡ [[hammingPairsFromSigs]] over the union
    * corpus restricted to non-base-only pairs, bit for bit
    * (spec-pinned). Per-increment cost ∝ batch items × bucket
    * occupancy, never corpus². */
  def incrementalHammingPairs(baseSigs: DataFrame, batchSigs: DataFrame,
                              sigCol: String,
                              maxHamming: Int = 3,
                              sigBits: Int = 64): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking guarantees recall only for Hamming <= 3")
    val baseChunks = sigChunks(baseSigs, sigCol, sigBits)
    val batchChunks = sigChunks(batchSigs, sigCol, sigBits)
    val cross = baseChunks.as("x")
      .join(batchChunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        bit_count(col("x._sig").bitwiseXOR(col("y._sig"))).as("hamming"))
    val intra = batchChunks.as("x")
      .join(batchChunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x._sig").bitwiseXOR(col("y._sig"))).as("hamming"))
    cross.unionByName(intra).distinct().filter(col("hamming") <= maxHamming)
  }
}
