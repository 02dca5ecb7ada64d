package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Materialize
import graft.functions.TextFunctions

/** Corpus-curation operators: the selection and shaping steps between a
  * cleaned/deduped corpus and a tokenizer. All are deterministic by
  * construction (hash cuts, total-ordered ranks, fixed grouping) — at
  * 100 TB, retry-stability and join-ability across tables matter more
  * than statistical niceties a seeded RNG would buy.
  *
  * The gated twins live in [[graft.queries.CurationOps]]; these are the
  * reusable API surface.
  */
object Curation {

  /** Deterministic keep-predicate: md5(salt || key) first hex char <
    * `rate16`/16. Same (salt, key) always lands on the same side —
    * stable across retries, re-runs, and incremental appends; change
    * `salt` for an independent resample. */
  def hashKeep(key: Column, salt: String, rate16: Int): Column = {
    require(rate16 >= 1 && rate16 <= 16, s"rate16 must be 1..16, got $rate16")
    if (rate16 == 16) lit(true) // '<' against a 2-char "10" would compare lexicographically
    else substring(md5(concat(lit(salt + ":"), key.cast(StringType))), 1, 1) <
      lit(f"$rate16%x")
  }

  /** Uniform deterministic sample at `rate16`/16. */
  def hashSample(df: DataFrame, keyCol: String, salt: String,
                 rate16: Int): DataFrame =
    df.filter(hashKeep(col(keyCol), salt, rate16))

  /** Per-domain proportion cap: keep the top `n` rows per `domainCol`
    * ranked by (`rankCol` desc, `keyCol` asc — total order, so the kept
    * set is unique). One shuffle on the domain; Spark pushes a
    * WindowGroupLimit below the exchange, so each map task forwards at
    * most n rows per domain. */
  def domainCap(df: DataFrame, domainCol: String, rankCol: String,
                keyCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(domainCol).orderBy(desc(rankCol), asc(keyCol))
    df.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= n)
  }

  /** Content-defined chunking (the LBFS/rsync boundary rule, token
    * granularity): a chunk boundary falls AFTER every token whose md5
    * starts with hex '0' — p = 1/16, mean chunk ≈ 16 tokens. Unlike the
    * fixed grid of [[chunkDocs]], boundaries move WITH the content:
    * inserting a token re-cuts only the chunk it lands in, so every
    * other chunk fingerprint is unchanged — what makes chunk-hash dedup
    * robust to boilerplate shifted by edits (CurationSpec pins this).
    *
    * Entirely map-side array algebra — boundary positions → (start, end)
    * spans → slices — instead of the explode → window-cumsum → re-group
    * relational form (the oracle's shape), which would shuffle every
    * TOKEN of a 100 TB corpus twice. The HOF stack runs interpreted
    * (higher-order functions are CodegenFallback) with subexpression
    * elimination; arrays are per-document, so the cost stays linear in
    * corpus size. Output (doc_id, chunk_idx, n_tokens, fp). */
  def contentDefinedChunks(docs: DataFrame): DataFrame = {
    val n = size(col("toks"))
    // 1-based positions of boundary tokens; document end closes the last
    // chunk unless the final token is itself a boundary
    val bnd = filter(sequence(lit(1), n),
      j => substring(md5(element_at(col("toks"), j)), 1, 1) === lit("0"))
    // "last boundary == n" via a slice compare — element_at would choke
    // on index 0 when a document has no boundary token at all
    val ends = when(slice(col("bnd"), -1, 1) === array(n), col("bnd"))
      .otherwise(concat(col("bnd"), array(n)))
    val starts = concat(
      array(lit(1)),
      transform(slice(col("ends"), lit(1), size(col("ends")) - 1), e => e + 1))
    val chunks = zip_with(col("starts"), col("ends"), (s, e) =>
      struct((e - s + 1).cast(LongType).as("n_tokens"),
        md5(array_join(slice(col("toks"), s, e - s + 1), " ")).as("fp")))
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("bnd", bnd)
      .withColumn("ends", ends)
      .withColumn("starts", starts)
      .select(col("doc_id"), posexplode(chunks))
      .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
        col("col.n_tokens").as("n_tokens"), col("col.fp").as("fp"))
  }

  /** Fixed `words`-token context windows per document: (doc_id,
    * chunk_id, chunk_text, n_tokens). A narrow explode — no shuffle, no
    * UDF; the token array is projected once before the slices read it
    * (HOF re-evaluation trap). */
  def chunkDocs(docs: DataFrame, words: Int): DataFrame =
    // tokenize + chunk assembly is a heavy map stage: spread it across
    // cores when the doc scan plans fewer partitions than the session
    // has (guide §2.5; no-op at corpus scale where scans split finely)
    graft.core.Partitioning.spread(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          ((size(col("toks")) - 1) / lit(words)).cast(IntegerType)))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * words + 1, lit(words)))
          .as("chunk_text"),
        least(lit(words), size(col("toks")) - col("chunk_id") * words)
          .cast(LongType).as("n_tokens"))

  /** Concat-and-cut sequence packing: documents laid end-to-end in
    * doc_id order and cut every `budget` tokens — each doc learns its
    * (pack_group, seq_in_group, seq_offset) coordinates from a running
    * token sum. Packing is parallel across `groupSize`-doc pack groups
    * (a global running sum would serialize); waste is bounded by one
    * partial sequence per group. */
  def packSequences(docs: DataFrame, budget: Long,
                    groupSize: Long = 100L): DataFrame = {
    val w = Window.partitionBy("pack_group").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        (col("doc_id") / lit(groupSize)).cast(LongType).as("pack_group"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .withColumn("cum_prev", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col("doc_id"), col("pack_group"), col("n_tokens"),
        (col("cum_prev") / budget).cast(LongType).as("seq_in_group"),
        (col("cum_prev") % budget).as("seq_offset"))
  }

  /** Mixture-to-target sampling (data mixing): downsample each domain so
    * its share of the kept corpus approaches a target proportion — the
    * step that turns "what we crawled" into "the mix we train on".
    * Domains are kept at `rate = min(1, target_d · N / n_d)` through a
    * deterministic md5 cut on a 1/256 grid (finer than [[hashKeep]]'s
    * 1/16 — mixture rates need the resolution); unlisted domains fall
    * back to `defaultTarget`. Oversampling (rate > 1) caps at keep-all:
    * this operator never replicates rows, matching how mixture weights
    * are applied at the sampling stage (upweighting happens at training
    * time, not by duplicating corpus rows).
    *
    * Scale shape: per-domain counts are one small aggregate (≤ #domains
    * rows), the rate table broadcasts into a map-side filter join, and
    * the cut itself is the same retry-stable salted-hash predicate as
    * [[hashKeep]] — no RNG state, no extra shuffle of the corpus. */
  def sampleToMixture(docs: DataFrame, domainCol: String, keyCol: String,
                      targets: Map[String, Double], defaultTarget: Double,
                      salt: String): DataFrame = {
    require(targets.values.forall(t => t >= 0 && t <= 1) &&
      defaultTarget >= 0 && defaultTarget <= 1, "targets must be in [0,1]")
    val counts = docs.groupBy(domainCol).agg(count(lit(1)).as("n_dom"))
    val targetCol = targets.foldLeft(lit(defaultTarget)) {
      case (acc, (dom, t)) => when(col(domainCol) === dom, lit(t)).otherwise(acc)
    }
    // the window spans the tiny aggregated domain table, never the corpus
    val rates = counts
      .withColumn("n_total",
        sum("n_dom").over(Window.partitionBy(lit(1))))
      .withColumn("rate256",
        least(lit(256L),
          floor(lit(256.0) * targetCol * col("n_total") / col("n_dom"))
            .cast(LongType)))
      .select(domainCol, "rate256")
    // null-safe rate attach (review r18): the counts aggregate keeps a
    // NULL domain as a real group (it gets a rate row at
    // defaultTarget), so the join back must match it — a null-rejecting
    // equi-join would silently drop every NULL-domain doc while still
    // counting them in n_total, skewing every other domain's rate
    docs.join(broadcast(rates.withColumnRenamed(domainCol, "__mix_dom")),
        col(domainCol) <=> col("__mix_dom"))
      .filter(col("rate256") >= 256 ||
        substring(md5(concat(lit(salt + ":"), col(keyCol).cast(StringType))),
          1, 2) < format_string("%02x", col("rate256")))
      .drop("rate256", "__mix_dom")
  }

  /** Benchmark decontamination: drop every document that shares ANY
    * word-`n`-gram with the probe set — the step between corpus assembly
    * and training that keeps eval benchmarks out of the training mix
    * (the standard 100 TB-pipeline guard against test-set leakage).
    *
    * Scale shape: shingles travel as xxhash64 longs (8-byte shuffles,
    * never text); the probe side (a benchmark suite) is tiny relative to
    * the corpus, so AQE broadcasts the distinct probe-shingle set into
    * the semi-join, and the contaminated-id set — bounded by the corpus
    * docs that overlap probes — broadcasts into the final anti-join. No
    * hints pinned: an adversarially large probe set degrades to shuffle
    * joins instead of breaking a broadcast limit. `n` should be large
    * enough that chance n-gram collisions are rare (8–13 words in
    * published pipelines; small-n makes everything "contaminated"). */
  def decontaminate(docs: DataFrame, probes: DataFrame, n: Int): DataFrame = {
    val probeShingles = Dedup.docShingles(probes, n)
      .select("shingle").distinct()
    val contaminated = Dedup.docShingles(docs, n)
      .join(probeShingles, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Contamination audit report — the investigative twin of
    * [[decontaminate]]: instead of silently dropping contaminated
    * documents, emit WHICH benchmark (probe) document each one overlaps
    * and by how many word-`n`-grams. A 100 TB pipeline runs this before
    * committing a decontamination pass: the report is how eval owners
    * confirm the probe set is right and how "unexplained" high scores
    * get audited after the fact.
    *
    * Scale shape: identical to [[decontaminate]]'s semi-join — shingles
    * travel as xxhash64 longs, the tiny probe index broadcasts under
    * AQE, and the output is bounded by actual overlap, not the corpus.
    *
    * Output: (doc_id, probe_id, n_shared) for every overlapping pair. */
  def contaminationReport(docs: DataFrame, probes: DataFrame,
                          n: Int): DataFrame = {
    val probeShingles = Dedup.docShingles(probes, n)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    Dedup.docShingles(docs, n)
      .join(probeShingles, Seq("shingle"))
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Gopher-style repetition stats per document: the most frequent
    * unigram and bigram with their corpus fractions — excessive
    * repetition is the strongest single predictor of low-quality
    * machine-generated text (Rae et al., Gopher §A1.2 filters on
    * exactly these fractions). Zero shuffle: both top-grams come from
    * [[TextFunctions.topGram]]'s sorted-run fold, a map-side scan —
    * the explode → groupBy → window alternative shuffles every token
    * in the corpus twice.
    *
    * Docs with fewer than 2 tokens have no bigrams: `top_bigram` and
    * `top_bigram_frac` are null there (an unguarded `tb.n / (n_tokens
    * − 1)` would be 0.0/0.0 = NaN — a Gopher-style gate comparing
    * `top_bigram_frac < cap` would then silently drop the doc, since
    * NaN compares false both ways). */
  def repetitionStats(docs: DataFrame): DataFrame =
    // spread first: the sorted-run fold is map-side by design, so ALL
    // its work lands on the scan's partitions (Tables.spread scaladoc)
    graft.core.Tables.spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        TextFunctions.shinglesFromTokens(col("toks"), 2).as("bgs"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        TextFunctions.topGram(col("toks")).as("tu"),
        TextFunctions.topGram(col("bgs")).as("tb"))
      .select(col("doc_id"), col("n_tokens"),
        col("tu.tok").as("top_tok"),
        (col("tu.n").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("top_tok_frac"),
        col("tb.tok").as("top_bigram"),
        when(col("n_tokens") > 1,
          col("tb.n").cast(DoubleType) /
            (col("n_tokens") - lit(1L)).cast(DoubleType))
          .as("top_bigram_frac"))

  /** Token-budget selection: keep the highest-quality documents whose
    * tokens fit a global budget — the "fill the training run with the
    * best data" step after cleaning/dedup. Selection order is (quality
    * bucket desc, doc_id asc); a doc is kept iff every token before it
    * in that order plus its own still fits.
    *
    * Scale shape: a naive global quality sort + running sum serializes
    * the corpus through one partition. Instead quality is quantized to
    * a fixed grid (`gridBuckets` ≤ 10k distinct values REGARDLESS of
    * corpus size), so the prefix sum splits hierarchically:
    *   1. per-bucket token totals — one groupBy over ≤10k keys;
    *   2. bucket-level prefix sums — a single-partition window over the
    *      ≤10k aggregated rows (bounded work at any corpus size);
    *   3. within-bucket prefix sums — a window partitioned BY BUCKET,
    *      so each partition holds one bucket's docs, never the corpus.
    * The grid is part of the selection contract (ties inside a bucket
    * fall back to doc_id order), which is what makes the result
    * deterministic and oracle-checkable rather than dependent on
    * float-sort tie order. */
  def selectUnderBudget(docs: DataFrame, stopwords: Seq[String],
                        budget: Long, gridBuckets: Int = 10000): DataFrame = {
    // materialized ONCE (eagerly): consumed by BOTH the
    // bucket-totals aggregate and the in-bucket window below — left
    // lazy (even lazily cached: the two consumers race the fill inside
    // one action, r19 profile) the entire upstream plan (in a composed
    // pipeline: quality filter, dedup semi-join, decontamination,
    // mixture sample) executes twice. The projection is three longs
    // per doc (~24 B), so MEMORY_AND_DISK holds it at any corpus size
    // the cluster can process at all; blocks free with the RDD (GC).
    val scored = Materialize(docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      floor(TextFunctions.qualityScore(col("text"), stopwords)
        * gridBuckets).cast(LongType).as("qb")))
    val bucketTotals = scored.groupBy("qb").agg(sum("n_tokens").as("btoks"))
    val wBuckets = Window.orderBy(desc("qb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketPrev = bucketTotals.withColumn("bprev",
      coalesce(sum("btoks").over(wBuckets), lit(0L)))
    val wInBucket = Window.partitionBy("qb").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    scored
      .withColumn("dprev", coalesce(sum("n_tokens").over(wInBucket), lit(0L)))
      .join(bucketPrev.select("qb", "bprev"), Seq("qb"))
      .filter(col("bprev") + col("dprev") + col("n_tokens") <= budget)
      .select(col("doc_id"), col("qb"), col("n_tokens"),
        (col("bprev") + col("dprev")).as("toks_before"))
  }

  /** Systematic PPS sample: ~`k` documents drawn with probability
    * proportional to token count — the "sample a training subset whose
    * token mass mirrors the corpus" primitive (uniform doc sampling
    * starves long documents; PPS by tokens is what data-mixing recipes
    * actually weight by). Deterministic by construction: lay the docs on
    * the token number line in doc_id order and take every doc covering a
    * multiple of `step = max(1, totalTokens DIV k)` — no RNG, no ln/exp
    * (engine-version-hazardous libm), every comparison exact integer.
    * A doc longer than `step` is hit multiple times; `n_hits` carries
    * its with-replacement multiplicity.
    *
    * Scale shape: the global prefix sum NEVER serializes the corpus —
    * doc_ids are range-blocked (`doc_id DIV blockSize`), giving
    * (1) per-block token totals (one groupBy), (2) a bounded
    * single-partition window over block totals, (3) within-block
    * prefix windows partitioned by block (same three-level plan as
    * [[selectUnderBudget]]). The one-row total joins by broadcast. */
  def ppsSample(docs: DataFrame, k: Int,
                blockSize: Long = 1L << 20): DataFrame = {
    // no cache(): a long-lived session would leak it (LEAKCHECK), and
    // the projection is read exactly twice — the grand total is summed
    // from the tiny per-block table, not a third corpus scan
    val s = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      expr(s"doc_id DIV ${blockSize}L").as("blk"))
    val blockTotals = s.groupBy("blk").agg(sum("n_tokens").as("btoks"))
    val wBlocks = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockPrev = blockTotals.withColumn("bprev",
      coalesce(sum("btoks").over(wBlocks), lit(0L)))
    val wInBlock = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = blockTotals.agg(sum("btoks").as("t"))
    s.withColumn("dprev", coalesce(sum("n_tokens").over(wInBlock), lit(0L)))
      .join(blockPrev.select("blk", "bprev"), Seq("blk"))
      .crossJoin(broadcast(total))
      .withColumn("step", greatest(expr(s"t DIV $k"), lit(1L)))
      .withColumn("cb", col("bprev") + col("dprev"))
      // hit count = pointers (multiples of step) inside [cb, cb+n);
      // the +step shift keeps every numerator non-negative so trunc
      // division ≡ floor division on both engines
      .withColumn("n_hits",
        expr("(cb + n_tokens - 1 + step) DIV step - (cb - 1 + step) DIV step"))
      .filter(col("n_hits") >= 1)
      .select(col("doc_id"), col("n_tokens"), col("n_hits"))
  }

  /** The 48-bit integer value of the first 12 hex chars of `hexCol`,
    * written in engine-neutral SQL (instr + positional powers of 16 —
    * both Spark and DuckDB lack a shared hex→int builtin, so the
    * polynomial IS the portable form). Shared by
    * [[weightedPrioritySample]] and its oracle so the two sides can
    * never disagree on the hash integer. */
  def hexIntSql(hexCol: String): String =
    (1 to 12).map { p =>
      val pow = math.pow(16, 12 - p).toLong
      // CAST keeps every product BIGINT: DuckDB would otherwise form
      // INT32 × INT32 products that overflow-error at the high positions
      s"(instr('0123456789abcdef', substring($hexCol, $p, 1)) - 1)" +
        s" * CAST($pow AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Weighted sampling WITHOUT replacement — sequential Poisson
    * (Ohlsson) priority sampling with exact integer keys: each row gets
    * priority = H DIV w, where H is the 48-bit hash integer of
    * md5(salt ':' id) and w = `weightCol` ≥ 1; the sample is the k
    * SMALLEST priorities (ties broken by id). Heavier rows draw
    * proportionally smaller priorities, so inclusion probability is
    * ≈ w/Σw without ever selecting the same row twice — the
    * without-replacement complement of [[ppsSample]]'s systematic
    * with-replacement pass (use THIS when multiplicity must be 1, e.g.
    * quality-weighted corpus subsetting; PPS when token-share matters).
    *
    * The textbook scheme orders by u^(1/w) — a libm pow on both engines
    * whose final-ulp rounding is implementation-defined, i.e. a gate
    * hazard at the selection boundary. The integer floor H DIV w
    * preserves the monotone weight bias with EXACT arithmetic: Spark's
    * `DIV` and DuckDB's `//` agree on every row, so the selected set is
    * engine-identical by construction, retry-stable, and re-drawable by
    * changing `salt`. Shape: one map-side projection + a global top-k
    * (TakeOrderedAndProject — per-partition k then a k-row driver merge,
    * never a global sort). Rows with w < 1 are rejected loudly, not
    * silently dropped: a zero/negative weight has no place in a
    * w-proportional design. */
  def weightedPrioritySample(df: DataFrame, idCol: String, weightCol: String,
                             salt: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // INTEGER-WEIGHT semantics: priority = H DIV w needs an integral w —
    // a fractional weight would be silently floor-truncated here (1.9
    // sampling as 1) while DuckDB's // on a DOUBLE float-floor-divides,
    // so the engine-exactness claim only holds for integral columns.
    // Reject the type loudly instead of diverging quietly (ADVICE r12).
    val wt = df.schema(weightCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(wt),
      s"weightedPrioritySample: $weightCol must be an integral column " +
        s"(priority is exact integer H DIV w), got $wt")
    val bad = s"weightedPrioritySample: $weightCol must be >= 1, got "
    val w = when(col(weightCol) >= 1, col(weightCol).cast(LongType))
      .otherwise(raise_error(concat(lit(bad),
        coalesce(col(weightCol).cast(StringType), lit("null")))))
    df.withColumn("__h",
        md5(concat(lit(salt + ":"), col(idCol).cast(StringType))))
      .withColumn("__w", w)
      .withColumn("priority", expr(s"${hexIntSql("__h")} DIV __w"))
      .drop("__h", "__w")
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Deterministic per-epoch corpus shuffle: the reproducible training
    * order every run of a data loader must agree on (elastic restarts,
    * resumed jobs, and audits all need "position 31 417 of epoch 3" to
    * be a FUNCTION of (corpus, epoch), not of cluster timing).
    *
    * Order key is md5(doc_id ':' epoch) — changing the epoch re-deals
    * the whole order with no RNG state to checkpoint. Positions are
    * assigned BLOCKED, never via a global row_number (which would move
    * the corpus to one task): the first two hex chars shard the corpus
    * into 256 hash-buckets, each bucket ranks internally (partitioned
    * window), and bucket offsets come from a 256-row prefix-summed
    * count table broadcast back — the same hierarchical prefix-sum
    * shape as [[ppsSample]]. Because the bucket is a prefix of the
    * sort key, bucket-major + rank-within-bucket IS the global
    * md5 order; `global_pos` is a permutation of 1..N (law-checked in
    * CurationSpec). */
  def epochShuffle(docs: DataFrame, keyCol: String, epoch: Int): DataFrame = {
    val hex = "0123456789abcdef"
    val h = docs.select(col(keyCol),
      md5(concat(col(keyCol).cast(StringType), lit(":" + epoch))).as("h"))
      .withColumn("bucket",
        ((instr(lit(hex), substring(col("h"), 1, 1)) - 1) * 16 +
          instr(lit(hex), substring(col("h"), 2, 1)) - 1).cast(IntegerType))
    val wInBucket = Window.partitionBy("bucket").orderBy("h", keyCol)
    val counts = h.groupBy("bucket").count()
    val wBuckets = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.withColumn("off",
      coalesce(sum("count").over(wBuckets), lit(0L)))
    h.withColumn("pos", row_number().over(wInBucket))
      .join(broadcast(offsets.select("bucket", "off")), Seq("bucket"))
      .select(col(keyCol), col("bucket"),
        (col("off") + col("pos")).cast(LongType).as("global_pos"))
  }

  /** Temperature-scaled sampling mixture (the multilingual-LM data-mix
    * scheme: sample group g with probability ∝ n_g^α, α < 1 flattening
    * the natural distribution so small groups are upsampled and huge
    * ones capped — α here is FIXED at 1/2 because sqrt is the one
    * power IEEE 754 requires correctly rounded, so both engines produce
    * the identical double and the floor-scaled integer weights agree
    * bit-for-bit; a pow(x, 0.7) weight would be libm-implementation-
    * defined at the floor boundary).
    *
    * Per group: `n_docs` (exact), `share_ppm` = its temperature share in
    * parts-per-million, `target_docs` = its allocation out of `budget`
    * rows, `factor_ppm` = the realized up/down-sampling rate vs the
    * natural distribution (target/n in ppm). All outputs are floor
    * divisions of exact integers — order-insensitive, engine-exact.
    * FLOOR-UNDERSHOOT note (ADVICE r16): because each `target_docs` is
    * floored independently, Σ target_docs ≤ budget with a shortfall of
    * up to (#groups − 1) rows, and Σ share_ppm ≤ 10⁶ likewise — the
    * outputs are an allocation PLAN (telemetry + sampling rates), not a
    * guaranteed exact budget fill. A caller that must land exactly on
    * `budget` should redistribute the remainder by largest fractional
    * part (largest-remainder method) over these floors; that step is
    * deliberately left out here because it needs a tie order, and any
    * engine-neutral tie order belongs to the caller's id space.
    * Shape: one partial-agg count (group-sized), a 1-row total broadcast
    * back; nothing corpus-sized shuffles twice.
    */
  def temperatureMixture(docs: DataFrame, groupCol: String,
                         budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val d38 = "DECIMAL(38,0)"
    val w = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).cast(LongType).as("n_docs"))
      .withColumn("__w",
        floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast(LongType))
    val tot = w.agg(sum(col("__w")).cast(LongType).as("__tot"))
    w.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"),
        expr(s"(CAST(__w AS $d38) * 1000000) DIV __tot")
          .cast(LongType).as("share_ppm"),
        expr(s"(CAST(__w AS $d38) * $budget) DIV __tot")
          .cast(LongType).as("target_docs"),
        expr(s"(((CAST(__w AS $d38) * $budget) DIV __tot) * 1000000)" +
          " DIV n_docs").cast(LongType).as("factor_ppm"))
  }

  /** The core curation pipeline: quality-filter → near-dup cluster
    * survivors → fixed context windows. Each stage is the individually
    * gated operator; [[graft.queries.CurationOps]] verifies the whole
    * composition against one composed oracle. */
  def curate(docs: DataFrame, stopwords: Seq[String], minQuality: Double,
             shingleN: Int, jaccardThreshold: Double,
             chunkWords: Int): DataFrame =
    // composed from the shared prefix rather than restating it (review
    // r18): a survivor-rule change lands once, in [[qualitySurvivors]]
    chunkDocs(
      qualitySurvivors(docs, stopwords, minQuality, shingleN,
        jaccardThreshold),
      chunkWords)

  /** The shared PREFIX of every curation chain: quality-filter →
    * near-dup cluster survivors, returning the surviving rows with all
    * their columns. This is the relation a production pipeline
    * materializes as its "curated corpus" table (refreshed per crawl;
    * the incremental fold is [[Dedup.incrementalConnectedComponents]]);
    * [[graft.queries.CurationOps]] shares one per-(JVM, sfDir) copy
    * across the gated full/CDC chains the way the dedup reports share
    * cluster labels — with `pipeline_curate` kept live as the
    * canonical whole-chain cost signal. */
  def qualitySurvivors(docs: DataFrame, stopwords: Seq[String],
                       minQuality: Double, shingleN: Int,
                       jaccardThreshold: Double): DataFrame = {
    // Score ONCE (r19): the quality expression tokenizes every document,
    // and the filter used to be re-evaluated in three plan branches (the
    // pair generator, the propagation seed's vertex set, and the final
    // survivor semi-join side) — three tokenize+score passes over the
    // corpus per run. The surviving id set is id-sized, so materialize
    // IT (one scoring pass, two longs per row) and re-derive the kept
    // rows by semi-join: later passes re-scan the corpus but never
    // re-score it. Same at 100 TB: one scoring pass is the floor, and
    // the id-sized checkpoint is negligible next to the corpus.
    val keptIds = Materialize(docs
      .filter(TextFunctions.qualityScore(col("text"), stopwords) >= minQuality)
      .select("doc_id"))
    val kept = docs.join(keptIds, Seq("doc_id"), "left_semi")
    val comp = Dedup.connectedComponents(keptIds, "doc_id",
      Dedup.ngramJaccardPairs(kept, shingleN, jaccardThreshold))
    docs.join( // survivors ⊆ keptIds, so the raw corpus is the same rows
      comp.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** The FULL curation chain — every selection stage a training-data
    * pipeline runs between a raw crawl and a tokenizer, composed as one
    * plan: quality-filter → near-dup cluster survivors →
    * benchmark-decontaminate → mixture-to-target sample → token-budget
    * select → fixed context windows. Each stage is the individually
    * gated operator above; the composition itself is gated as
    * `pipeline_curate_full` against ONE composed oracle, proving the
    * family composes without plan blow-ups (PlanSpec: no product, and
    * the only single-partition funnel is the ≤10k-row bucket window
    * inside [[selectUnderBudget]]).
    *
    * Scale shape of the composition: the final chunk stage semi-joins
    * the RAW corpus on the selected ids instead of carrying text
    * through the token-budget windows — the selected id set is bounded
    * by `budget / avg_doc_tokens` (tiny), so it broadcasts, and
    * document text never rides a window shuffle. */
  def curateFull(docs: DataFrame, probes: DataFrame, stopwords: Seq[String],
                 minQuality: Double, shingleN: Int, jaccardThreshold: Double,
                 decontamN: Int, targets: Map[String, Double],
                 defaultTarget: Double, mixSalt: String, budget: Long,
                 chunkWords: Int): DataFrame =
    chunkDocs(
      docs.join(
        selectCurated(docs, probes, stopwords, minQuality, shingleN,
          jaccardThreshold, decontamN, targets, defaultTarget, mixSalt,
          budget),
        Seq("doc_id"), "left_semi"),
      chunkWords)

  /** [[curateFull]] with [[contentDefinedChunks]] as the final stage:
    * the edit-robust chunker composed into the same selection chain —
    * chunk hashes from this pipeline stay join-able across corpus
    * re-curations even when upstream edits shift token offsets. Gated
    * as `pipeline_curate_cdc` against the shared chain oracle + the
    * relational CDC formulation. */
  def curateFullCdc(docs: DataFrame, probes: DataFrame,
                    stopwords: Seq[String], minQuality: Double,
                    shingleN: Int, jaccardThreshold: Double, decontamN: Int,
                    targets: Map[String, Double], defaultTarget: Double,
                    mixSalt: String, budget: Long): DataFrame =
    contentDefinedChunks(
      docs.join(
        selectCurated(docs, probes, stopwords, minQuality, shingleN,
          jaccardThreshold, decontamN, targets, defaultTarget, mixSalt,
          budget),
        Seq("doc_id"), "left_semi"))

  /** [[curateFull]] with the quality→survivor prefix supplied as a
    * PRE-COMPUTED relation (a [[qualitySurvivors]] table, typically
    * materialized once per corpus version) — the chain runs only its
    * distinctive tail per consumer. */
  def curateFullFrom(docs: DataFrame, survivors: DataFrame,
                     probes: DataFrame, stopwords: Seq[String],
                     decontamN: Int, targets: Map[String, Double],
                     defaultTarget: Double, mixSalt: String, budget: Long,
                     chunkWords: Int): DataFrame =
    chunkDocs(
      docs.join(
        selectCuratedFrom(survivors, probes, stopwords, decontamN,
          targets, defaultTarget, mixSalt, budget),
        Seq("doc_id"), "left_semi"),
      chunkWords)

  /** [[curateFullCdc]] over a pre-computed [[qualitySurvivors]] table
    * (see [[curateFullFrom]]). */
  def curateFullCdcFrom(docs: DataFrame, survivors: DataFrame,
                        probes: DataFrame, stopwords: Seq[String],
                        decontamN: Int, targets: Map[String, Double],
                        defaultTarget: Double, mixSalt: String,
                        budget: Long): DataFrame =
    contentDefinedChunks(
      docs.join(
        selectCuratedFrom(survivors, probes, stopwords, decontamN,
          targets, defaultTarget, mixSalt, budget),
        Seq("doc_id"), "left_semi"))

  /** The shared selection chain: quality → near-dup survivors →
    * decontaminate → mixture-sample → token-budget; returns selected
    * doc ids (tiny — bounded by budget / avg doc tokens — so the
    * final semi-join broadcasts and text never rides a window). */
  private def selectCurated(docs: DataFrame, probes: DataFrame,
                            stopwords: Seq[String], minQuality: Double,
                            shingleN: Int, jaccardThreshold: Double,
                            decontamN: Int, targets: Map[String, Double],
                            defaultTarget: Double, mixSalt: String,
                            budget: Long): DataFrame =
    selectCuratedFrom(
      qualitySurvivors(docs, stopwords, minQuality, shingleN,
        jaccardThreshold),
      probes, stopwords, decontamN, targets, defaultTarget, mixSalt,
      budget)

  /** [[selectCurated]]'s tail over a supplied survivor relation. */
  private def selectCuratedFrom(survivors: DataFrame, probes: DataFrame,
                                stopwords: Seq[String], decontamN: Int,
                                targets: Map[String, Double],
                                defaultTarget: Double, mixSalt: String,
                                budget: Long): DataFrame = {
    val clean = decontaminate(survivors, probes, decontamN)
    val mixed = sampleToMixture(clean, "source", "doc_id", targets,
      defaultTarget, mixSalt)
    selectUnderBudget(mixed, stopwords, budget).select("doc_id")
  }
}
