package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.core.{Layout, Tables}
import graft.operators.{Curation, Dedup}

/** Corpus-curation inventory over `documents`: the selection operators a
  * training-data pipeline runs after cleaning/dedup — deterministic
  * sampling and per-domain proportion capping (data mixing).
  *
  * Scale design:
  *   - the hash sample is a pure map-side filter on a codegen'd md5 —
  *     no shuffle, no RNG state: the same (salt, id) always lands on the
  *     same side of the cut, so re-runs, retries, and incremental
  *     appends stay consistent, and the sample rate is changed by
  *     widening the accepted prefix range (1/16 granularity per hex
  *     char). This is how 100 TB pipelines sample: seeded-RNG `sample()`
  *     is neither stable across retries nor joinable across tables.
  *   - the domain cap is one window pass per domain partition: rank
  *     docs inside each `source` by quality proxy and keep the top N —
  *     the standard "no single domain may dominate the mix" guard. One
  *     shuffle on `source`; skewed domains are exactly what the cap
  *     bounds (a domain contributes at most N rows downstream).
  */
object CurationOps {

  /** The curation chains' shared PREFIX (quality 0.5 → Jaccard-0.8
    * cluster survivors over the raw corpus —
    * [[graft.operators.Curation.qualitySurvivors]]), materialized ONCE
    * per (JVM, sfDir) and read by the DERIVED chain entries
    * (`pipeline_curate_full`, `pipeline_curate_cdc`) — VERDICT r12's
    * plan audit measured the identical prefix recomputed per chain.
    * `pipeline_curate` deliberately stays LIVE end-to-end: it is the
    * canonical whole-chain cost signal and its oracle check stays
    * composition-proving. Same contract as the dedup label table: at
    * 100 TB this is the persisted "curated corpus" table refreshed per
    * crawl; here a pid-keyed tmp parquet. */
  private[graft] def curatedSurvivors(
      s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    Scratch.sharedTable(s, "curated", dir) {
      Curation.qualitySurvivors(Tables(s, dir, "documents"),
        TextOps.Stopwords, minQuality = 0.5, shingleN = 3,
        jaccardThreshold = 0.8)
    }

  /** CTE chain shared by the composed-pipeline oracles (`pipeline_
    * curate_full`, `pipeline_curate_cdc`): raw corpus → quality filter →
    * near-dup cluster survivors → benchmark-decontaminate → mixture-to-
    * target sample → token-budget selection. `sel` exposes (doc_id, w)
    * for the chunking tail. Parameters are the standalone gated
    * entries' (same probe cut, mixture targets, salt, budget) so each
    * stage's semantics are pinned twice. */
  private def curateChainCtes: String =
    s"""raw AS (
         SELECT doc_id, text, source,
                regexp_split_to_array(trim(text), '\\s+') AS toks
         FROM documents),
       kept AS (
         SELECT doc_id, text, source, toks FROM (
           SELECT *,
                  LEAST(len(toks) / 100.0, 1.0)
                    * (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                             / len(toks)) AS quality
           FROM raw)
         WHERE quality >= 0.5),
       ${DedupOps.reachCtes("kept")},
       clusters AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
       surv AS (
         SELECT k.doc_id, k.source, k.toks FROM kept k
         JOIN clusters c ON k.doc_id = c.id AND k.doc_id = c.comp),
       pw AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         FROM documents
         WHERE substring(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1) < '2'),
       psh AS (
         SELECT DISTINCT array_to_string(list_slice(w, i, i+7), ' ') AS s8
         FROM pw, unnest(generate_series(1, len(w) - 7)) AS t(i)
         WHERE len(w) >= 8),
       dsh AS (
         SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i+7), ' ') AS s8
         FROM surv, unnest(generate_series(1, len(toks) - 7)) AS t(i)
         WHERE len(toks) >= 8),
       bad AS (SELECT DISTINCT doc_id FROM dsh JOIN psh USING (s8)),
       clean AS (
         SELECT s.* FROM surv s
         WHERE NOT EXISTS (SELECT 1 FROM bad b WHERE b.doc_id = s.doc_id)),
       counts AS (SELECT source, COUNT(*) AS n_dom FROM clean GROUP BY source),
       tot AS (SELECT SUM(n_dom) AS n_total FROM counts),
       rates AS (
         SELECT source,
                CAST(LEAST(256, floor(256.0 *
                  (CASE source WHEN 'src0' THEN 0.10
                               WHEN 'src1' THEN 0.02
                               WHEN 'src2' THEN 0.01
                               WHEN 'src3' THEN 0.005
                               ELSE 0.002 END) *
                  n_total / n_dom)) AS BIGINT) AS rate256
         FROM counts, tot),
       mixed AS (
         SELECT d.doc_id, d.toks FROM clean d JOIN rates r ON d.source = r.source
         WHERE r.rate256 >= 256
            OR substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 2)
                 < printf('%02x', r.rate256)),
       sc AS (
         SELECT doc_id, toks,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(floor(LEAST(len(toks) / 100.0, 1.0)
                  * (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                           / len(toks))
                  * 10000) AS BIGINT) AS qb
         FROM mixed),
       cum AS (
         SELECT doc_id, toks, n_tokens,
                CAST(COALESCE(SUM(n_tokens) OVER (
                  ORDER BY qb DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS toks_before
         FROM sc),
       sel AS (
         SELECT doc_id, toks AS w FROM cum
         WHERE toks_before + n_tokens <= 5000)"""

  /** DuckDB CTE chain restating `Multimodal.imageSignature` over
    * `syntheticPatternImages(px = 8)` — the 7×8 gradient-sign dHash on
    * the deterministic two-byte pattern — ending in the dedup keepers
    * (`keep` = min doc_id per signature). `fromDocs` supplies the doc
    * relation (aliased `d`), so callers can restrict the corpus (the
    * pair-gated chain) without copying the polynomial; ONE definition
    * keeps the two composed-chain oracles from drifting (the MicroGrid
    * discipline). */
  private def patternSigKeepDuckSql(fromDocs: String): String =
    s"""xs AS (SELECT unnest(range(0, 7)) AS x),
              ys AS (SELECT unnest(range(0, 8)) AS y),
              t AS (
                SELECT d.doc_id, ys.y AS y, xs.x AS x,
                       xs.x + 8*ys.y + 3 AS tl,
                       (xs.x + 1) + 8*ys.y + 3 AS tr
                FROM $fromDocs CROSS JOIN xs CROSS JOIN ys),
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
              keep AS (SELECT MIN(doc_id) AS doc_id FROM sig GROUP BY sg)"""

  val entries: Seq[Entry] = Seq(

    // deterministic 4/16 hash sample: md5(salt || id) first hex char in
    // [0-3]. Spark's md5 and DuckDB's md5 agree bit-for-bit on the same
    // UTF-8 bytes, so the oracle IS the definition.
    Entry(
      "cur_hash_sample",
      (s, dir) => Curation
        .hashSample(Tables(s, dir, "documents"), "doc_id", "graft", rate16 = 4)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
              WHERE substring(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1)
                      IN ('0', '1', '2', '3')
              ORDER BY doc_id""")),

    // weighted sampling WITHOUT replacement (sequential Poisson priority
    // sampling, integer keys): the 100 smallest md5-hash-DIV-weight
    // priorities — inclusion ∝ n_chars, multiplicity exactly 1, fully
    // engine-exact (no u^(1/w) libm hazard). The hash-integer polynomial
    // is shared text (Curation.hexIntSql) so both sides compute the
    // identical 48-bit H; only the floor-division spelling differs
    // (Spark DIV, DuckDB //).
    Entry(
      "cur_weighted_sample",
      (s, dir) => Curation
        .weightedPrioritySample(Tables(s, dir, "documents"),
          "doc_id", "n_chars", "graft", k = 100)
        .select("doc_id", "lang", "source", "n_chars", "priority")
        .orderBy("priority", "doc_id"),
      Some(s"""WITH h AS (
                 SELECT doc_id, lang, source, n_chars,
                        md5('graft:' || CAST(doc_id AS VARCHAR)) AS hh
                 FROM documents),
               p AS (
                 SELECT doc_id, lang, source, n_chars,
                        CAST(${Curation.hexIntSql("hh")} // n_chars
                             AS BIGINT) AS priority
                 FROM h)
               SELECT doc_id, lang, source, n_chars, priority
               FROM p ORDER BY priority, doc_id LIMIT 100""")),

    // per-domain proportion cap: keep the 50 longest docs per source
    // (n_chars as the quality proxy; doc_id breaks ties so the kept set
    // is total-ordered and the gate hash is deterministic).
    Entry(
      "cur_domain_cap",
      (s, dir) => Curation
        .domainCap(Tables(s, dir, "documents"), "source", "n_chars", "doc_id", 50)
        .select("doc_id", "source", "n_chars", "rk")
        .orderBy("source", "rk"),
      Some("""SELECT doc_id, source, n_chars, rk FROM (
                SELECT doc_id, source, n_chars,
                       ROW_NUMBER() OVER (
                         PARTITION BY source
                         ORDER BY n_chars DESC, doc_id ASC) AS rk
                FROM documents)
              WHERE rk <= 50 ORDER BY source, rk""")),

    // per-class stratified rates through the same md5 cut: 'en' is
    // dominant in the corpus so it samples at 4/16, every other lang at
    // 8/16 — the "downweight the over-represented class" move of
    // training-mix construction, still retry-stable and map-side only.
    Entry(
      "cur_stratified_sample",
      (s, dir) => {
        def keep(r: Int) = Curation.hashKeep(col("doc_id"), "strat", r)
        Tables(s, dir, "documents")
          .filter((col("lang") === "en" && keep(4)) ||
                  (col("lang") =!= "en" && keep(8)))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source,
                       substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
                FROM documents)
              WHERE (lang = 'en' AND h <= '3') OR (lang <> 'en' AND h <= '7')
              ORDER BY doc_id""")),

    // deterministic train/val/test assignment: md5 hex ranges 14/1/1 of
    // 16 — the eval-split primitive. Hash-based (not RNG) so the split
    // is stable across re-runs, retries, and corpus appends, and any
    // table keyed on doc_id lands on the same side (leakage-free
    // joins). Map-side only.
    Entry(
      "cur_split_assign",
      (s, dir) => {
        val h = substring(md5(concat(lit("split:"),
          col("doc_id").cast(StringType))), 1, 1)
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            when(h < "e", "train").when(h < "f", "val").otherwise("test")
              .as("split"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source,
                     CASE WHEN h < 'e' THEN 'train'
                          WHEN h < 'f' THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id, source,
                           substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
                    FROM documents)
              ORDER BY doc_id""")),

    // exact-k uniform sample PER GROUP: rank by md5(salt||id) inside
    // each source, keep the first 10 — deterministic reservoir-free
    // group sampling (eval sets need exactly k per class, not a rate).
    // One window pass per group partition, same shape as the domain cap.
    Entry(
      "cur_group_sample",
      (s, dir) => Curation.domainCap(
          Tables(s, dir, "documents")
            .withColumn("h", md5(concat(lit("gs:"),
              col("doc_id").cast(StringType)))),
          "source", "h", "doc_id", 10)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk"),
      Some("""SELECT doc_id, source, rk FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                         PARTITION BY source
                         ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)) DESC,
                                  doc_id ASC) AS rk
                FROM documents)
              WHERE rk <= 10 ORDER BY source, rk""")),

    // context-window chunking: split every document into fixed 64-word
    // windows — THE preprocessing step between a cleaned corpus and a
    // tokenizer. explode(sequence) keeps it one narrow projection: no
    // shuffle, no UDF, and the token array is projected ONCE before the
    // per-chunk slices read it (HOF re-evaluation trap).
    Entry(
      "cur_chunk_docs",
      (s, dir) => Curation.chunkDocs(Tables(s, dir, "documents"), 64)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH words AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents)
              SELECT doc_id, i AS chunk_id,
                     array_to_string(list_slice(w, i*64 + 1, (i+1)*64), ' ') AS chunk_text,
                     least(64, len(w) - i*64) AS n_tokens
              FROM words,
                   unnest(generate_series(0, CAST(floor((len(w)-1)/64.0) AS BIGINT))) AS t(i)
              ORDER BY doc_id, chunk_id""")),

    // content-defined chunking: rolling-boundary chunks whose hashes
    // survive insertions (the fixed grid above re-cuts EVERY downstream
    // chunk when one token shifts; CurationSpec pins the contrast). The
    // Spark side is pure map-side array algebra; the oracle is the
    // relational twin — explode tokens, windowed boundary-prefix count,
    // regroup — which proves the span algebra against an independent
    // formulation, not a transliteration.
    Entry(
      "cur_cdc_chunk",
      (s, dir) => Curation.contentDefinedChunks(Tables(s, dir, "documents"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH words AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents),
              tok AS (
                SELECT doc_id, w[i] AS t, i
                FROM words, unnest(generate_series(1, len(w))) AS u(i)),
              fl AS (
                SELECT doc_id, t, i,
                       CASE WHEN substring(md5(t), 1, 1) = '0' THEN 1 ELSE 0 END AS f
                FROM tok),
              ch AS (
                SELECT doc_id, t, i,
                       COALESCE(SUM(f) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
                FROM fl)
              SELECT doc_id, CAST(c AS BIGINT) AS chunk_idx,
                     CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     md5(string_agg(t, ' ' ORDER BY i)) AS fp
              FROM ch GROUP BY doc_id, c
              ORDER BY doc_id, chunk_idx""")),

    // sequence packing, concat-and-cut style: lay the corpus's tokens
    // end-to-end in doc_id order and cut every 4096 — each document
    // learns its (sequence, offset) coordinates from a running token
    // sum, exactly how pretraining batches are packed from a shuffled
    // corpus. Scale shape: a GLOBAL running sum would serialize, so
    // packing is parallel across deterministic pack groups (100 docs
    // per group — at 100 TB, a partition each); the waste is bounded by
    // one partial sequence per group, the standard trade.
    Entry(
      "cur_pack_sequences",
      (s, dir) => Curation
        .packSequences(Tables(s, dir, "documents"), budget = 4096L)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, pack_group, n_tokens,
                     CAST(floor(cum_prev / 4096.0) AS BIGINT) AS seq_in_group,
                     -- cum_prev is SUM(BIGINT) = HUGEINT in DuckDB and % preserves
                     -- it; the driver's pandas hash renders HUGEINT as float64 and
                     -- false-reds the row, so pin the output dtype explicitly.
                     CAST(cum_prev % 4096 AS BIGINT) AS seq_offset
              FROM (
                SELECT doc_id, doc_id // 100 AS pack_group,
                       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                       COALESCE(SUM(len(regexp_split_to_array(trim(text), '\s+'))) OVER (
                         PARTITION BY doc_id // 100 ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
                FROM documents)
              ORDER BY doc_id""")),

    // ⊕ packing-efficiency report: per pack group, how many 4096-token
    // context windows the docs fill and at what fill rate — the
    // telemetry that says whether the packer wastes paid context
    // (fill ≪ 10⁶ ppm: too many short sequences) or straddles
    // boundaries (> 10⁶: the last doc of a window spills into the
    // next). Group-sized output from one aggregate over the packer's
    // own assignment — the report and the packer can never disagree.
    Entry(
      "cur_pack_stats",
      (s, dir) => Curation
        .packSequences(Tables(s, dir, "documents"), budget = 4096L)
        .groupBy("pack_group")
        .agg(count(lit(1)).cast(LongType).as("n_docs"),
          (max(col("seq_in_group")) + lit(1L)).as("n_seqs"),
          sum(col("n_tokens")).cast(LongType).as("total_tokens"))
        .withColumn("fill_ppm",
          expr("(total_tokens * 1000000L) DIV (n_seqs * 4096L)"))
        .orderBy("pack_group"),
      Some("""WITH p AS (
                SELECT doc_id, doc_id // 100 AS pack_group,
                       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                       COALESCE(SUM(len(regexp_split_to_array(trim(text), '\s+'))) OVER (
                         PARTITION BY doc_id // 100 ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
                FROM documents),
              g AS (
                SELECT pack_group,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(MAX(CAST(FLOOR(cum_prev / 4096.0) AS BIGINT)) + 1
                         AS BIGINT) AS n_seqs,
                       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
                FROM p GROUP BY 1)
              SELECT pack_group, n_docs, n_seqs, total_tokens,
                     CAST((total_tokens * 1000000) // (n_seqs * 4096)
                       AS BIGINT) AS fill_ppm
              FROM g ORDER BY pack_group""")),

    // benchmark decontamination: a deterministic 2/16 hash sample of the
    // corpus plays the benchmark (probe) set; any doc sharing a word
    // 8-gram with a probe is dropped — probes drop themselves (every doc
    // shares 8-grams with itself) plus their near-duplicate partners.
    // n = 8 measured non-vacuous on this corpus: 3-grams would flag 97%
    // of docs (tiny synthetic vocabulary), 8-grams flag the probes + a
    // handful of true overlaps. NOT EXISTS, not NOT IN (NULL trap).
    Entry(
      "cur_decontaminate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Curation
          .decontaminate(docs,
            Curation.hashSample(docs, "doc_id", "bench", rate16 = 2), n = 8)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""WITH pw AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents
                WHERE substring(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1) < '2'),
              psh AS (
                SELECT DISTINCT array_to_string(list_slice(w, i, i+7), ' ') AS s
                FROM pw, unnest(generate_series(1, len(w) - 7)) AS t(i)
                WHERE len(w) >= 8),
              dw AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents),
              dsh AS (
                SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i+7), ' ') AS s
                FROM dw, unnest(generate_series(1, len(w) - 7)) AS t(i)
                WHERE len(w) >= 8),
              bad AS (SELECT DISTINCT doc_id FROM dsh JOIN psh USING (s))
              SELECT d.doc_id, d.lang, d.source, d.n_chars
              FROM documents d
              WHERE NOT EXISTS (SELECT 1 FROM bad b WHERE b.doc_id = d.doc_id)
              ORDER BY d.doc_id""")),

    // contamination audit report — the investigative twin of
    // cur_decontaminate (same probe cut, same 8-grams): WHICH probe
    // each contaminated doc overlaps and by how many n-grams, the
    // audit trail an eval owner reviews before committing the drop.
    // Probes report against themselves too (every doc shares all its
    // 8-grams with itself) — the self-rows double as a sanity floor.
    Entry(
      "cur_contamination_report",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Curation
          .contaminationReport(docs,
            Curation.hashSample(docs, "doc_id", "bench", rate16 = 2), n = 8)
          .orderBy("doc_id", "probe_id")
      },
      Some("""WITH pw AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents
                WHERE substring(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 1) < '2'),
              psh AS (
                SELECT DISTINCT doc_id AS probe_id,
                       array_to_string(list_slice(w, i, i+7), ' ') AS s
                FROM pw, unnest(generate_series(1, len(w) - 7)) AS t(i)
                WHERE len(w) >= 8),
              dw AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents),
              dsh AS (
                SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i+7), ' ') AS s
                FROM dw, unnest(generate_series(1, len(w) - 7)) AS t(i)
                WHERE len(w) >= 8)
              SELECT d.doc_id, p.probe_id, COUNT(*) AS n_shared
              FROM dsh d JOIN psh p ON d.s = p.s
              GROUP BY 1, 2
              ORDER BY doc_id, probe_id""")),

    // mixture-to-target sampling: reshape the 20-uniform-domain corpus
    // toward explicit shares — src0 oversampled (rate caps at keep-all),
    // src1/src2/src3 at fractional 1/256-grid rates, everything else at
    // the default. The oracle recomputes the same rate arithmetic
    // (identical literal/op order → identical IEEE doubles → identical
    // floor) and the same 2-hex-char md5 cut.
    Entry(
      "cur_mixture_sample",
      (s, dir) => Curation
        .sampleToMixture(Tables(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.10, "src1" -> 0.02, "src2" -> 0.01,
            "src3" -> 0.005),
          defaultTarget = 0.002, salt = "mix")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id"),
      Some("""WITH counts AS (
                SELECT source, COUNT(*) AS n_dom FROM documents GROUP BY source),
              tot AS (SELECT SUM(n_dom) AS n_total FROM counts),
              rates AS (
                SELECT source,
                       CAST(LEAST(256, floor(256.0 *
                         (CASE source WHEN 'src0' THEN 0.10
                                      WHEN 'src1' THEN 0.02
                                      WHEN 'src2' THEN 0.01
                                      WHEN 'src3' THEN 0.005
                                      ELSE 0.002 END) *
                         n_total / n_dom)) AS BIGINT) AS rate256
                FROM counts, tot)
              SELECT d.doc_id, d.source, d.lang
              FROM documents d JOIN rates r ON d.source = r.source
              WHERE r.rate256 >= 256
                 OR substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 2)
                      < printf('%02x', r.rate256)
              ORDER BY d.doc_id""")),

    // token-budget selection: the best documents whose tokens fit a
    // 10k-token training budget, in (quality-bucket desc, doc_id) order.
    // The oracle's single global prefix sum over that order equals the
    // operator's hierarchical bucket-prefix + in-bucket-prefix split
    // (the order is hierarchical), which is the point: the declarative
    // truth is one window, the scale implementation never global-sorts.
    // SUM results are CAST to BIGINT (DuckDB HUGEINT, rule 5).
    Entry(
      "cur_token_budget",
      (s, dir) => Curation
        .selectUnderBudget(Tables(s, dir, "documents"), TextOps.Stopwords,
          budget = 10000L)
        .orderBy("doc_id"),
      Some("""WITH t AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents),
              s AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_tokens,
                       CAST(floor(LEAST(len(toks) / 100.0, 1.0)
                         * (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                                  / len(toks))
                         * 10000) AS BIGINT) AS qb
                FROM t),
              c AS (
                SELECT doc_id, qb, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (
                         ORDER BY qb DESC, doc_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS toks_before
                FROM s)
              SELECT doc_id, qb, n_tokens, toks_before
              FROM c WHERE toks_before + n_tokens <= 10000
              ORDER BY doc_id""")),

    // ⊕ systematic PPS sample (~200 docs drawn ∝ token count): the
    // deterministic, RNG-free form of weighted sampling — docs laid on
    // the token number line in doc_id order, one pointer every
    // `totalTokens DIV 200` tokens, `n_hits` = with-replacement
    // multiplicity. All-integer selection (no ln/exp libm hazard);
    // the corpus prefix sum is the blocked three-level plan, never a
    // one-partition window (Curation.ppsSample).
    Entry(
      "cur_pps_sample",
      (s, dir) => Curation.ppsSample(Tables(s, dir, "documents"), 200)
        .orderBy("doc_id"),
      Some("""WITH s AS (
                SELECT doc_id,
                       CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) AS n_tokens
                FROM documents),
              tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM s),
              c AS (
                SELECT doc_id, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS cb
                FROM s),
              p AS (
                SELECT c.*, GREATEST(t // 200, 1) AS step FROM c, tot)
              SELECT doc_id, n_tokens,
                     CAST((cb + n_tokens - 1 + step) // step
                          - (cb - 1 + step) // step AS BIGINT) AS n_hits
              FROM p
              WHERE (cb + n_tokens - 1 + step) // step
                    - (cb - 1 + step) // step >= 1
              ORDER BY doc_id""")),

    // ⊕ token-weighted median document length per language: the length
    // L such that half the corpus TOKENS live in docs of n_chars ≤ L —
    // the statistic that sizes packing windows (the unweighted median
    // over-represents short docs that carry almost no mass). All
    // integer: cumulative token weight over a (n_chars, doc_id) total
    // order, pick the first row where 2·cum ≥ total (no halving, no
    // interpolation), one row_number to make the pick unique. Two
    // windows over the same lang shuffle.
    Entry(
      "a23_weighted_median",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wCum = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("lang")
        val wPick = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
        Tables(s, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars"),
            graft.functions.TextFunctions.tokenCount(col("text"))
              .cast(LongType).as("wt"))
          .withColumn("cum", sum("wt").over(wCum))
          .withColumn("total_tokens", sum("wt").over(wAll))
          .filter(col("cum") * 2 >= col("total_tokens"))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("lang"), col("n_chars").as("weighted_median_chars"),
            col("total_tokens"))
          .orderBy("lang")
      },
      Some("""WITH s AS (
                SELECT lang, doc_id, n_chars,
                       CAST(len(regexp_split_to_array(trim(text), '\s+'))
                            AS BIGINT) AS wt
                FROM documents),
              c AS (
                SELECT lang, doc_id, n_chars, wt,
                       SUM(wt) OVER (PARTITION BY lang
                         ORDER BY n_chars, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                       SUM(wt) OVER (PARTITION BY lang) AS total_tokens
                FROM s),
              p AS (
                SELECT lang, n_chars, total_tokens,
                       ROW_NUMBER() OVER (PARTITION BY lang
                         ORDER BY n_chars, doc_id) AS rn
                FROM c WHERE cum * 2 >= total_tokens)
              SELECT lang, n_chars AS weighted_median_chars,
                     CAST(total_tokens AS BIGINT) AS total_tokens
              FROM p WHERE rn = 1
              ORDER BY lang""")),

    // THE end-to-end curation pipeline: quality-filter the corpus, drop
    // near-duplicates (cluster survivors), chunk what remains — the
    // full documents → training-windows path, each stage the
    // already-gated operator, composed and verified as ONE query
    // against ONE composed oracle. Plan shape: the quality filter is a
    // map-side projection fused into the scan; dedup shuffles only
    // (shingle, doc_id); chunking is a final narrow explode.
    Entry(
      "pipeline_curate",
      (s, dir) => Curation.curate(Tables(s, dir, "documents"),
          TextOps.Stopwords, minQuality = 0.5,
          shingleN = 3, jaccardThreshold = 0.8, chunkWords = 64)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH RECURSIVE
               raw AS (
                 SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
               kept AS (
                 SELECT doc_id, text, toks FROM (
                   SELECT *,
                          LEAST(len(toks) / 100.0, 1.0)
                            * (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                                     / len(toks)) AS quality
                   FROM raw)
                 WHERE quality >= 0.5),
               ${DedupOps.reachCtes("kept")},
               clusters AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
               surv AS (
                 SELECT k.doc_id, k.toks AS w FROM kept k
                 JOIN clusters c ON k.doc_id = c.id AND k.doc_id = c.comp)
               SELECT doc_id, i AS chunk_id,
                      array_to_string(list_slice(w, i*64 + 1, (i+1)*64), ' ') AS chunk_text,
                      least(64, len(w) - i*64) AS n_tokens
               FROM surv,
                    unnest(generate_series(0, CAST(floor((len(w)-1)/64.0) AS BIGINT))) AS t(i)
               ORDER BY doc_id, chunk_id""")),

    // the curation chain with ExactSubstr removal FIRST — the
    // RefinedWeb/Lee-et-al stage order: strip verbatim repeated
    // substrings before near-dup clustering, so shared boilerplate
    // cannot glue unrelated documents into one Jaccard cluster and
    // survivors are chosen on their ACTUAL content. One plan, one
    // composed oracle (the full removal chain feeding the quality →
    // cluster-survivor → chunk chain over `cleaned`).
    Entry(
      "pipeline_curate_substr",
      // the removal front-end reads the SHARED materialized CLEANED
      // corpus (DedupOps.cleanedDocs, r16 — previously only the
      // duplicated-window table was shared and the tokenize → window
      // join → reassembly chain re-ran here AND in
      // dedup_substr_removed); dedup_substr_spans stays the
      // live-computed canonical fingerprint-pass entry, and this
      // oracle still replays removal from raw text end-to-end
      (s, dir) => Curation.curate(
          DedupOps.cleanedDocs(s, dir),
          TextOps.Stopwords, minQuality = 0.5,
          shingleN = 3, jaccardThreshold = 0.8, chunkWords = 64)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH RECURSIVE
               ${DedupOps.substrRemovalCtes(8)},
               raw AS (
                 SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\\s+') AS tk
                 FROM cleaned),
               kept AS (
                 SELECT doc_id, text, tk FROM (
                   SELECT *,
                          LEAST(len(tk) / 100.0, 1.0)
                            * (1.0 - CAST(len(list_filter(tk, x -> x IN ('the', 'a'))) AS DOUBLE)
                                     / len(tk)) AS quality
                   FROM raw)
                 WHERE quality >= 0.5),
               ${DedupOps.reachCtes("kept")},
               clusters AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
               csurv AS (
                 SELECT k.doc_id, k.tk AS cw FROM kept k
                 JOIN clusters c ON k.doc_id = c.id AND k.doc_id = c.comp)
               SELECT doc_id, i AS chunk_id,
                      array_to_string(list_slice(cw, i*64 + 1, (i+1)*64), ' ') AS chunk_text,
                      least(64, len(cw) - i*64) AS n_tokens
               FROM csurv,
                    unnest(generate_series(0, CAST(floor((len(cw)-1)/64.0) AS BIGINT))) AS t(i)
               ORDER BY doc_id, chunk_id""")),

    // the same selection chain finished by CONTENT-DEFINED chunks: the
    // edit-robust chunker composed end-to-end. One plan, one composed
    // oracle (shared chain CTEs + the relational CDC formulation);
    // PlanSpec pins the same no-product/no-corpus-funnel shape as the
    // fixed-grid chain.
    Entry(
      "pipeline_curate_cdc",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // reads the SHARED quality→survivor prefix table; the chain
        // runs only its distinctive decontaminate→mixture→budget→CDC
        // tail (pipeline_curate keeps the live whole-chain signal)
        Curation.curateFullCdcFrom(docs, curatedSurvivors(s, dir),
            probes = Curation.hashSample(docs, "doc_id", "bench", rate16 = 2),
            stopwords = TextOps.Stopwords, decontamN = 8,
            targets = Map("src0" -> 0.10, "src1" -> 0.02, "src2" -> 0.01,
              "src3" -> 0.005),
            defaultTarget = 0.002, mixSalt = "mix", budget = 5000L)
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH RECURSIVE
               $curateChainCtes,
               tok AS (
                 SELECT doc_id, w[i] AS t, i
                 FROM sel, unnest(generate_series(1, len(w))) AS u(i)),
               fl AS (
                 SELECT doc_id, t, i,
                        CASE WHEN substring(md5(t), 1, 1) = '0' THEN 1 ELSE 0 END AS f
                 FROM tok),
               ch AS (
                 SELECT doc_id, t, i,
                        COALESCE(SUM(f) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
                 FROM fl)
               SELECT doc_id, CAST(c AS BIGINT) AS chunk_idx,
                      CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      md5(string_agg(t, ' ' ORDER BY i)) AS fp
               FROM ch GROUP BY doc_id, c
               ORDER BY doc_id, chunk_idx""")),

    // the FULL curation chain as ONE gated query: quality-filter →
    // near-dup survivors → benchmark-decontaminate (8-grams vs a 2/16
    // probe sample) → mixture-to-target sample → 5k-token-budget
    // select → 64-word chunks. Every stage is the already-gated
    // operator; this entry proves they COMPOSE — one plan, one
    // composed recursive-CTE oracle, no product and no corpus-wide
    // single-partition funnel (PlanSpec). Stage parameters reuse the
    // standalone entries' (same mixture targets/salt, same probe cut,
    // same quality grid) so each stage's semantics are pinned twice.
    Entry(
      "pipeline_curate_full",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // shared prefix table, distinctive tail only — see
        // pipeline_curate_cdc's note
        Curation.curateFullFrom(docs, curatedSurvivors(s, dir),
            probes = Curation.hashSample(docs, "doc_id", "bench", rate16 = 2),
            stopwords = TextOps.Stopwords, decontamN = 8,
            targets = Map("src0" -> 0.10, "src1" -> 0.02, "src2" -> 0.01,
              "src3" -> 0.005),
            defaultTarget = 0.002, mixSalt = "mix",
            budget = 5000L, chunkWords = 64)
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH RECURSIVE
               $curateChainCtes
               SELECT doc_id, i AS chunk_id,
                      array_to_string(list_slice(w, i*64 + 1, (i+1)*64), ' ') AS chunk_text,
                      least(64, len(w) - i*64) AS n_tokens
               FROM sel,
                    unnest(generate_series(0, CAST(floor((len(w)-1)/64.0) AS BIGINT))) AS t(i)
               ORDER BY doc_id, chunk_id""")),

    // Morton z-key over (o_custkey, o_orderkey): the 2-D layout key
    // behind Delta's OPTIMIZE ZORDER BY, as plain bit algebra. The gate
    // certifies the interleave; ZOrderSpec measures the payoff (a
    // y-only slice over a z-sorted layout touches a fraction of the
    // files a single-column sort forces). The oracle SQL is GENERATED
    // from the same (bits, positions) spec as the Spark expression —
    // lockstep by construction, 24 bits covering both key domains.
    Entry(
      "cur_zorder_key",
      (s, dir) => Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Layout.zValue(col("o_custkey"), col("o_orderkey"), 24).as("zkey"))
        .orderBy("o_orderkey"),
      Some(s"""SELECT o_orderkey, o_custkey,
                      ${Layout.zValueSql("o_custkey", "o_orderkey", 24)} AS zkey
               FROM orders ORDER BY o_orderkey""")),

    // ⊕ compaction planner: assign each source's documents to target-
    // sized output bins by cumulative size — the small-files plan an
    // OPTIMIZE/compaction job executes. Deterministic first-fit in
    // doc_id order via a window prefix sum (bin = bytes-before DIV
    // target); one shuffle on source, report rows ≈ #bins. At 100 TB
    // the same plan runs per partition and feeds a file-stitching
    // rewrite job.
    Entry(
      "cur_compaction_plan",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("cum_prev", coalesce(sum(col("n_chars")).over(w), lit(0L)))
          .select(col("source"), expr("cum_prev DIV 20000").as("bin"),
            col("n_chars"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy("source", "bin")
      },
      Some("""WITH c AS (
                SELECT source, doc_id, n_chars,
                       COALESCE(SUM(n_chars) OVER (
                         PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cum_prev
                FROM documents)
              SELECT source, CAST(cum_prev // 20000 AS BIGINT) AS bin,
                     COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars
              FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ⊕ dataset card: the per-source summary a corpus release publishes
    // — doc/token volumes, language spread, and the exact-duplicate
    // rate (corpus-wide md5 fingerprint collisions attributed to each
    // source). Composes the fingerprint pass with the per-source stats
    // in two shuffles (fingerprint, then source); every metric exact,
    // the dup share an IEEE ratio of two exact counts.
    Entry(
      "cur_dataset_card",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            md5(col("text")).as("fp"),
            graft.functions.TextFunctions.tokenCount(col("text"))
              .cast("long").as("nt"))
        val fc = d.groupBy("fp").agg(count(lit(1)).as("n"))
        d.join(fc, "fp")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("total_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            (sum(when(col("n") > 1, 1L).otherwise(0L))
              .cast("double") / count(lit(1))).as("dup_share"))
          .orderBy("source")
      },
      Some("""WITH d AS (
                SELECT doc_id, source, lang, md5(text) AS fp,
                       CAST(len(regexp_split_to_array(trim(text), '\s+'))
                         AS BIGINT) AS nt
                FROM documents),
              fc AS (SELECT fp, COUNT(*) AS n FROM d GROUP BY 1)
              SELECT source, COUNT(*) AS n_docs,
                     CAST(SUM(nt) AS BIGINT) AS total_tokens,
                     CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                     CAST(SUM(CASE WHEN fc.n > 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_dup_docs,
                     CAST(SUM(CASE WHEN fc.n > 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*) AS dup_share
              FROM d JOIN fc USING (fp)
              GROUP BY source ORDER BY source""")),

    // ⊕ filter-funnel attrition: every curation drop attributed to its
    // FIRST failing stage (the order the pipeline applies them), per
    // source — the report that says where the corpus actually went when
    // 40% vanishes. First-fail attribution (CASE order = stage order)
    // makes the counts sum exactly to the corpus size, unlike
    // per-filter tallies that double-count docs failing two stages.
    // One conditional-aggregate pass, no joins.
    Entry(
      "cur_filter_attrition",
      (s, dir) => {
        val toks = graft.functions.TextFunctions
          .tokenCount(col("text")).cast("long")
        Tables(s, dir, "documents")
          .select(col("source"),
            when(col("n_chars") < 100, "too_short")
              .when(toks < 20, "too_few_tokens")
              .when(!col("lang").isin("en", "fr", "de", "es"), "lang_filtered")
              .otherwise("kept").as("stage"))
          .groupBy("source", "stage")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "stage")
      },
      Some("""SELECT source,
                     CASE
                       WHEN n_chars < 100 THEN 'too_short'
                       WHEN CAST(len(regexp_split_to_array(trim(text), '\s+'))
                              AS BIGINT) < 20 THEN 'too_few_tokens'
                       WHEN lang NOT IN ('en', 'fr', 'de', 'es')
                         THEN 'lang_filtered'
                       ELSE 'kept' END AS stage,
                     CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents
              GROUP BY 1, 2 ORDER BY source, stage""")),

    // ⊕ deterministic oversampling to class balance: each language's
    // docs replicate ⌈max_class/n⌉ times (integer ceiling division —
    // never a float ceil whose rounding could differ), indexed by
    // copy_idx — the upsampling half of mixture balancing (the
    // downsampling half is cur_mixture_sample). Replication is
    // explode(sequence(1, rep)) — map-side fan-out AFTER the broadcast
    // join of the per-class factors, so nothing but the tiny class
    // table shuffles; a training loader varies per-copy augmentation
    // off copy_idx.
    Entry(
      "cur_oversample_balance",
      (s, dir) => {
        val counts = Tables(s, dir, "documents")
          .groupBy("lang").agg(count(lit(1)).as("n"))
          .withColumn("maxn",
            max("n").over(org.apache.spark.sql.expressions.Window
              .partitionBy()))
          .withColumn("rep", expr("(maxn + n - 1) div n"))
          .select("lang", "rep")
        Tables(s, dir, "documents")
          .join(broadcast(counts), "lang")
          .withColumn("copy_idx", explode(sequence(lit(1L), col("rep"))))
          .select(col("doc_id"), col("lang"), col("copy_idx"))
          .orderBy("doc_id", "copy_idx")
      },
      Some("""WITH c AS (
                SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY 1),
              r AS (
                SELECT lang, (SELECT MAX(n) FROM c) AS maxn, n FROM c),
              rep AS (
                SELECT lang, (maxn + n - 1) // n AS rep FROM r)
              SELECT doc_id, d.lang,
                     CAST(unnest(generate_series(1, rep)) AS BIGINT)
                       AS copy_idx
              FROM documents d JOIN rep USING (lang)
              ORDER BY doc_id, copy_idx""")),

    // DSIR-style importance scoring (Xie et al. 2023): rank raw-corpus
    // docs by how target-domain-like their word distribution is. The
    // gate-deterministic form is the per-token MEAN of the exact-integer
    // frequency ratio ⌊10⁶·(c_t+1)/(c_r+1)⌋ (see operators/Dsir.scala
    // for why the log-likelihood product is ungateable). One explode
    // pass computes both counts; the vocab-sized ratio table broadcasts;
    // the corpus shuffles only on doc_id.
    Entry(
      "cur_dsir_weight",
      (s, dir) => graft.operators.Dsir
        .importanceScores(Tables(s, dir, "documents"), "doc_id", "text",
          col("source").isin("src1", "src2"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
                SELECT doc_id, source IN ('src1', 'src2') AS is_t, tok
                FROM (SELECT doc_id, source,
                             unnest(regexp_split_to_array(trim(text), '\s+'))
                               AS tok
                      FROM documents)
                WHERE tok <> ''),
              counts AS (
                SELECT tok, COUNT(*) AS c_r,
                       SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
                FROM toks GROUP BY tok),
              ratio AS (
                SELECT tok, (c_t + 1) * 1000000 // (c_r + 1) AS r
                FROM counts)
              SELECT t.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_tok,
                     CAST(SUM(r) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS score
              FROM toks t JOIN ratio USING (tok)
              GROUP BY t.doc_id
              ORDER BY t.doc_id""")),

    // reproducible per-epoch training order: global_pos is a pure
    // function of (corpus, epoch) — elastic restarts and audits agree
    // on "what was example #k of epoch 7" with no RNG checkpoint.
    // Blocked position assignment (256 md5-prefix buckets: partitioned
    // rank + tiny prefix-summed offset table, broadcast back) — never
    // a global row_number over one task; the bucket is a PREFIX of the
    // order key, so blocked positions ARE the global md5 order.
    Entry(
      "cur_epoch_shuffle",
      (s, dir) => Curation
        .epochShuffle(Tables(s, dir, "documents"), "doc_id", epoch = 7)
        .orderBy("global_pos"),
      Some("""WITH h AS (
                SELECT doc_id,
                       md5(CAST(doc_id AS VARCHAR) || ':7') AS h
                FROM documents),
              b AS (
                SELECT doc_id, h,
                       CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
                              * 16
                            + strpos('0123456789abcdef', substr(h, 2, 1)) - 1
                         AS INTEGER) AS bucket
                FROM h),
              p AS (
                SELECT doc_id, bucket,
                       ROW_NUMBER() OVER (PARTITION BY bucket
                                          ORDER BY h, doc_id) AS pos
                FROM b),
              c AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket),
              o AS (
                SELECT bucket,
                       COALESCE(SUM(n) OVER (ORDER BY bucket
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0) AS off
                FROM c)
              SELECT p.doc_id, p.bucket,
                     CAST(p.pos + o.off AS BIGINT) AS global_pos
              FROM p JOIN o USING (bucket)
              ORDER BY global_pos""")),

    // ⊕ the MULTIMODAL curation chain, composed and verified as ONE
    // query: decode the corpus's (patterned) image payloads → perceptual
    // dHash (real ImageIO round trip) → signature-exact dedup keepers
    // (min doc_id per hash — the phash-bucket policy on real pixels) →
    // deterministic hash-sample of the survivors → per-doc token stats.
    // Every stage is an already-gated operator; the composed oracle
    // restates the integer-pattern signatures, the keeper GROUP BY, the
    // md5 sample, and the token count in one SQL chain. Plan shape: the
    // decode is one mapPartitions over (doc_id, payload); the dedup
    // shuffles (8-byte sig, id) rows; survivorship and sampling are a
    // semi join + a map-side filter — no product anywhere (swept).
    Entry(
      "pipeline_curate_multimodal",
      (s, dir) => {
        import graft.operators.Multimodal
        import graft.functions.TextFunctions
        val docs = Tables(s, dir, "documents")
        val sigs = Multimodal.imageSignature(s,
          Multimodal.syntheticPatternImages(s, docs, 8))
        val keepers = sigs.groupBy("sig")
          .agg(min(col("doc_id")).as("doc_id"))
        val survivors = docs
          .join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
        Curation.hashSample(survivors, "doc_id", "pmm", 8)
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast(LongType)
              .as("n_tokens"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${patternSigKeepDuckSql("documents d")}
              SELECT d.doc_id,
                     len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_tokens,
                     d.n_chars
              FROM documents d JOIN keep USING (doc_id)
              WHERE substring(md5('pmm:' || CAST(d.doc_id AS VARCHAR)), 1, 1) < '8'
              ORDER BY d.doc_id""")),

    // ⊕ the PAIRED multimodal curation chain (VERDICT r17 item 6):
    // pipeline_curate_multimodal curates modalities independently —
    // this entry threads Multimodal.pairConsistency UPSTREAM, the order
    // a caption↔image training-set build requires: a misaligned pair is
    // junk even when each side is individually clean, and dropping it
    // FIRST keeps the dedup/sample stages from wasting work on (or
    // electing as keeper) a doc whose pair is broken. Chain: render
    // pairs with the planted doc_id % 10 = 3 mismatch (the
    // mm_pair_filter corpus) → REAL ImageIO decode → consistency
    // semi-join (the pair gate, visible in the plan upstream of the
    // dedup shuffle) → perceptual-signature dedup keepers over the
    // SURVIVING docs only → deterministic hash-sample → token stats.
    // The oracle restates pair bins, the restricted signature GROUP BY,
    // the md5 sample, and the token count in one SQL chain, so one hash
    // certifies the whole composition including the stage ORDER (a
    // post-dedup pair filter would elect different keepers: an
    // inconsistent doc with a low doc_id would win its signature group
    // and evict a consistent one — exactly the corruption this order
    // prevents). Plan: decode is mapPartitions on (pair_id, payload);
    // the gate and survivorship are semi joins on ids; no product.
    Entry(
      "pipeline_curate_pairs",
      (s, dir) => {
        import graft.operators.Multimodal
        import graft.functions.TextFunctions
        val docs = Tables(s, dir, "documents")
        val shifted = docs.withColumn("n_chars",
          when(col("doc_id") % 10 === 3, col("n_chars") + 40)
            .otherwise(col("n_chars")))
        val media = Multimodal.syntheticImages(s, shifted, 4)
          .withColumnRenamed("doc_id", "pair_id")
        val texts = docs.select(col("doc_id").as("pair_id"), col("text"))
        val consistentIds = Multimodal.pairConsistency(s, texts, media)
          .filter(col("consistent"))
          .select(col("pair_id").as("doc_id"))
        val clean = docs.join(consistentIds, Seq("doc_id"), "left_semi")
        val sigs = Multimodal.imageSignature(s,
          Multimodal.syntheticPatternImages(s, clean, 8))
        val keepers = sigs.groupBy("sig")
          .agg(min(col("doc_id")).as("doc_id"))
        val survivors = clean
          .join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
        Curation.hashSample(survivors, "doc_id", "ppr", 8)
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast(LongType)
              .as("n_tokens"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pc AS (
                SELECT doc_id,
                       (n_chars % 256) // 16 AS tb,
                       (CASE WHEN doc_id % 10 = 3
                             THEN (n_chars + 40) % 256
                             ELSE n_chars % 256 END) // 16 AS mb
                FROM documents),
              cons AS (SELECT doc_id FROM pc WHERE tb = mb),
              ${patternSigKeepDuckSql("documents d JOIN cons USING (doc_id)")}
              SELECT d.doc_id,
                     len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_tokens,
                     d.n_chars
              FROM documents d JOIN keep USING (doc_id)
              WHERE substring(md5('ppr:' || CAST(d.doc_id AS VARCHAR)), 1, 1) < '8'
              ORDER BY d.doc_id""")),

    // ⊕ temperature-scaled sampling mixture (α = 1/2): the multilingual
    // data-mix scheme — per-language budget allocation ∝ √n, flattening
    // the natural skew so low-resource languages are upsampled. sqrt is
    // the one power IEEE requires correctly rounded, so the floor-scaled
    // integer weights agree bit-for-bit across engines; every share is a
    // floor division of exact integers. See Curation.temperatureMixture.
    Entry(
      "cur_temperature_mixture",
      (s, dir) => Curation.temperatureMixture(
          Tables(s, dir, "documents"), "lang", budget = 10000L)
        .orderBy("lang"),
      Some("""WITH c AS (
                SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1),
              w AS (
                SELECT lang, n_docs,
                       CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1e6)
                         AS BIGINT) AS wt
                FROM c),
              t AS (SELECT CAST(SUM(wt) AS HUGEINT) AS tot FROM w)
              SELECT lang, n_docs,
                     CAST((CAST(wt AS HUGEINT) * 1000000)
                       // (SELECT tot FROM t) AS BIGINT) AS share_ppm,
                     CAST((CAST(wt AS HUGEINT) * 10000)
                       // (SELECT tot FROM t) AS BIGINT) AS target_docs,
                     CAST(((CAST(wt AS HUGEINT) * 10000)
                       // (SELECT tot FROM t) * 1000000) // n_docs
                       AS BIGINT) AS factor_ppm
              FROM w ORDER BY lang""")),

    // ⊕ dynamic quality thresholding: drop each LANGUAGE's bottom
    // quality quartile — the per-group percentile cut real curation
    // runs use instead of one global constant (a fixed minQuality
    // over-prunes low-resource languages whose whole distribution sits
    // lower; the cur_filter_attrition chain is the fixed-constant
    // twin). The cut is RANK-based integer math (keep rn·4 > tot over
    // the (quality, doc_id) total order), so no percentile
    // interpolation and no double comparison decides membership — both
    // engines replay the predicate exactly; quality rides along
    // bit-identical (the text_quality_score expression). One
    // lang-partitioned window + one aggregate; at 100 TB each
    // language's rank pass is its own partition stream.
    Entry(
      "cur_quality_threshold",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions
              .qualityScore(col("text"), TextOps.Stopwords).as("quality"))
        val ranked = docs
          .withColumn("rn", row_number().over(Window.partitionBy("lang")
            .orderBy(asc("quality"), asc("doc_id"))))
          .withColumn("tot",
            count(lit(1)).over(Window.partitionBy("lang")))
        ranked.filter(col("rn") * 4 > col("tot"))
          .groupBy("lang")
          .agg(count(lit(1)).cast(LongType).as("n_kept"),
            max(col("tot")).cast(LongType).as("n_total"),
            min(col("quality")).as("min_kept_quality"))
          .orderBy("lang")
      },
      Some("""WITH q AS (
                SELECT doc_id, lang,
                       LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                         * (1.0 - CAST(len(list_filter(toks,
                               x -> x IN ('the', 'a'))) AS DOUBLE)
                            / CAST(len(toks) AS DOUBLE)) AS quality
                FROM (SELECT doc_id, lang,
                             regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents)),
              r AS (
                SELECT lang, doc_id, quality,
                       ROW_NUMBER() OVER (PARTITION BY lang
                         ORDER BY quality ASC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY lang) AS tot
                FROM q)
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                     CAST(MAX(tot) AS BIGINT) AS n_total,
                     MIN(quality) AS min_kept_quality
              FROM r WHERE rn * 4 > tot
              GROUP BY 1 ORDER BY lang"""))
  )
}
