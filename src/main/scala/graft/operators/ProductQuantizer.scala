package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.VectorFunctions.vecDot

/** Product quantization (PQ) — the compression half of a billion-scale
  * ANN index (IVF-PQ): split each d-dim vector into `m` subvectors,
  * quantize each subspace against its own small codebook, and answer
  * maximum-inner-product queries from the m-int codes alone via
  * asymmetric distance computation (ADC: one per-query lookup table,
  * score = Σ_s LUT[s][code_s]).
  *
  * Reference anchor: the reference's analytics engine has no vector
  * path at all — this extends SURVEY §8.4's similarity family (IVF /
  * multi-probe / kNN-graph) with the instrument that makes 100 TB of
  * embeddings scannable: 64-dim float vectors are 256 bytes; m=8 codes
  * are 8 bytes — a 32× I/O reduction, and the ADC scan never touches a
  * float vector again.
  *
  * Scale design:
  *   - the codebook is tiny by construction (m·nCodes subvectors) and
  *     BROADCAST everywhere; encode is one scan of the corpus with a
  *     map-side partial `max` per (vector, subspace) — the only
  *     exchange is the n·m-row partial-aggregate shuffle, carrying
  *     (id, s, score-struct), never the embeddings;
  *   - the per-query LUT (|q|·m·nCodes rows) is computed on the
  *     broadcast-small query side and broadcast to the codes scan; the
  *     ADC sum is a map-side partial aggregate on (query, vector) —
  *     the shuffle after partial combine is |q|·n thin rows, the same
  *     reduction the brute-force top-k pays, but fed from codes, not
  *     vectors;
  *   - determinism: LUT entries are floor-scaled BIGINT micro-points
  *     (Inventory rule 2), so the ADC score is an order-insensitive
  *     integer sum — bit-identical across engines and partitionings;
  *     codeword assignment ranks by the ‖v−c‖² order statistic
  *     v·c − ‖c‖²/2 (monotone in true distance, same expression as
  *     [[Similarity]]'s probe ranking), ties to the lowest codeword id.
  *
  * Two codebook sources share every downstream step:
  *   - [[sampleCodebook]]: the subvectors of a fixed id-prefix of the
  *     corpus — deterministic AND plain-SQL-derivable, so the whole
  *     encode→LUT→ADC pipeline is oracle-checked end-to-end
  *     (`sim_knn_pq`, `sim_pq_distortion`);
  *   - [[trainCodebooks]]: per-subspace seeded k-means (MLlib) — the
  *     production codebook; PqSpec proves the trained codebook's
  *     distortion beats the sampled one and that ADC recall@k grows
  *     with nCodes.
  */
object ProductQuantizer {

  /** Explode `(idCol, embCol)` into one row per (id, subspace):
    * `(id, s, v)` with `v` = the s-th `subDim`-wide slice. Map-side
    * only — the m-way fan-out happens before any exchange, so at scale
    * it rides the scan. */
  def subvectors(df: DataFrame, idCol: String, embCol: String,
                 m: Int, subDim: Int, carry: Seq[String] = Nil): DataFrame = {
    val pieces = (0 until m).map { s =>
      struct(lit(s).as("s"), slice(col(embCol), s * subDim + 1, subDim).as("v"))
    }
    val keep = (idCol +: carry).map(col)
    df.select(keep :+ explode(array(pieces: _*)).as("p"): _*)
      .select(keep :+ col("p.s").as("s") :+ col("p.v").as("v"): _*)
  }

  /** Deterministic, SQL-derivable codebook: the subvectors of rows with
    * `vec_id < nCodes`. Columns: (cid, s, c, cn2). The gate form — an
    * ANSI oracle can rebuild it verbatim; production swaps in
    * [[trainCodebooks]] without touching encode/ADC. */
  def sampleCodebook(emb: DataFrame, nCodes: Int, m: Int, subDim: Int): DataFrame =
    subvectors(emb.filter(col("vec_id") < nCodes), "vec_id", "embedding", m, subDim)
      .select(col("vec_id").as("cid"), col("s"), col("v").as("c"),
        vecDot(col("v"), col("v")).as("cn2"))

  /** Per-subspace seeded k-means codebook (the production form): fit m
    * independent KMeans models over the subvector slices, emit the same
    * (cid, s, c, cn2) relation as [[sampleCodebook]]. Training samples
    * the corpus like [[Quantizer]]; the collect is bounded at
    * m·nCodes centroids regardless of data volume. */
  def trainCodebooks(emb: DataFrame, nCodes: Int, m: Int, subDim: Int,
                     seed: Long = 42L, sampleFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    val sub = subvectors(emb, "vec_id", "embedding", m, subDim)
    // persist the exploded relation: each of the m fits would
    // otherwise re-scan and re-explode the full corpus (ml.KMeans
    // caches its internal instances RDD per fit, so iterations within
    // a fit are fine either way — this saves the O(m) outer passes)
    val sampled =
      (if (sampleFraction >= 1.0) sub
       else sub.sample(withReplacement = false, sampleFraction, seed))
        .persist()
    val rows = try {
      (0 until m).flatMap { s =>
        val slice = sampled.filter(col("s") === s)
          .withColumn("features", array_to_vector(col("v")))
        val model = new KMeans().setK(nCodes).setSeed(seed + s)
          .setFeaturesCol("features").fit(slice)
        model.clusterCenters.zipWithIndex.map { case (ctr, cid) =>
          (cid.toLong, s, ctr.toArray.map(_.toFloat))
        }
      }
    } finally sampled.unpersist()
    rows.toDF("cid", "s", "c")
      .withColumn("c", col("c").cast("array<float>"))
      .withColumn("cn2", vecDot(col("c"), col("c")))
  }

  /** The shared assignment order statistic: argmin_c ‖v−c‖² ≡
    * argmax_c (v·c − ‖c‖²/2) — one dot per codeword, no list
    * subtraction, and the identical expression an oracle states. */
  private def assignScore: Column = vecDot(col("v"), col("c")) - col("cn2") / 2

  /** Encode a subvector relation against a codebook: (id, s, code) with
    * `code` = nearest codeword (ties → lowest cid). The argmax is a
    * map-side partial `max(struct(score, −cid))` — the exchange carries
    * one thin struct per (id, s), never the vectors. */
  def encode(sub: DataFrame, cb: DataFrame, idCol: String = "vec_id",
             carry: Seq[String] = Nil): DataFrame =
    sub.join(broadcast(cb), "s")
      .groupBy(((idCol +: carry) :+ "s").map(col): _*)
      .agg(max(struct(assignScore.as("score"), (-col("cid")).as("ncid"))).as("best"))
      .select(((idCol +: carry).map(col) :+ col("s") :+
        (-col("best.ncid")).as("code")): _*)

  /** ADC maximum-inner-product top-k from codes alone.
    *
    * `querySub` is the query set's subvector relation (query_id, s, v)
    * — small by construction. LUT = query × codebook dots in BIGINT
    * micro-points (`floor(dot·1e6)`); score(q, x) = Σ_s LUT[s][code_s],
    * an exact integer sum. Emits (query_id, neighbor_id, rank,
    * adc_dot) with adc_dot = µsum/1e6 as one exact division.
    *
    * `cell = Some((encCol, lutCol))` adds an IVF-style probe predicate:
    * only codes whose `encCol` equals the query row's `lutCol` are
    * scored — with the codes table partitioned by cell on disk this is
    * partition pruning, the full IVF-PQ read path. Every non-(s, v)
    * column of `querySub` (e.g. the probe cell) is carried through the
    * LUT. */
  def adcTopK(enc: DataFrame, querySub: DataFrame, cb: DataFrame,
              k: Int, cell: Option[(String, String)] = None,
              idCol: String = "vec_id"): DataFrame = {
    val carry = querySub.columns.filterNot(Set("s", "v")).map(col).toSeq
    val lut = querySub
      .join(cb, "s")
      .select(carry ++ Seq(col("s").as("lut_s"), col("cid"),
        floor(vecDot(col("v"), col("c")) * 1e6).cast(LongType).as("lu")): _*)
    // the LUT's subspace gets its own name: enc and querySub often share
    // one lineage, and `s === s` across them is a trivially true predicate
    val joinCond = enc("s") === lut("lut_s") && enc("code") === lut("cid")
    val scored = enc.join(broadcast(lut),
        cell.fold(joinCond) { case (ec, lc) => joinCond && enc(ec) === lut(lc) })
      .filter(col(idCol) =!= col("query_id"))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum(col("lu")).as("mu"))
    Similarity.topK(scored, "mu", k, bigintRank = true)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (col("mu").cast(DoubleType) / 1000000.0).as("adc_dot"))
  }

  /** Two-stage serving: exact re-rank of an ADC shortlist — the
    * standard PQ deployment shape (ADC prunes the corpus to R
    * candidates per query from codes alone; only those R·|q| float
    * vectors are ever touched for the exact top-k). `cands` is any
    * (query_id, neighbor_id, …) shortlist; the candidate×query side is
    * broadcast (R·|q| thin rows), so the corpus streams map-side
    * through ONE broadcast hash join — at 100 TB this reads only the
    * row groups holding candidate ids (id-sorted layout ⇒ min/max
    * pruning). Guarantee: every true top-k member the shortlist stage
    * caught can only move UP under exact re-ranking, so recall@k here
    * dominates the shortlist's own top-k recall (PqSpec pins this).
    * Emits (query_id, neighbor_id, rank, dot) with the exact double
    * dot. */
  def rerankExact(cands: DataFrame, emb: DataFrame, queries: DataFrame,
                  k: Int, idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col("embedding").as("q_emb"))
    // dedup the shortlist first (review r18): the contract accepts
    // candidates from ANY source — a union of probe shortlists can
    // repeat a pair, and a duplicate would both emit twice and consume
    // a genuine top-k slot through row_number
    val withQ = broadcast(cands.select("query_id", "neighbor_id").distinct()
      .join(q, "query_id"))
    val exact = emb
      .select(col(idCol).as("neighbor_id"), col("embedding").as("n_emb"))
      .join(withQ, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        vecDot(col("q_emb"), col("n_emb")).as("dot"))
    Similarity.topK(exact, "dot", k, bigintRank = true)
      .select("query_id", "neighbor_id", "rank", "dot")
  }

  /** Pack the relational code rows into the stored-index shape: one row
    * per vector, `codes` = the m codeword ids in subspace order (ints
    * in parquet; bytes at nCodes ≤ 256 in a real deployment — either
    * way orders of magnitude below the float vectors they replace).
    * `collect_list` is order-nondeterministic, so the struct list is
    * sorted by subspace before the ids are projected out. */
  def packCodes(enc: DataFrame, idCol: String = "vec_id"): DataFrame =
    enc.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("code")))).as("sc"))
      .select(col(idCol), expr("transform(sc, p -> p.code)").as("codes"))

  /** Scalar-quantization (SQ8) distortion audit — the 4× compression
    * cousin of PQ (FAISS SQ8): each dimension quantizes independently
    * to one byte on the corpus [min, max] grid; reconstruction is the
    * cell midpoint. Emits per-dim (dim, n_values, vmin, vmax, mse), d
    * rows — publish next to the stored codes exactly as
    * [[distortionReport]] for PQ. A well-behaved dim sits near the
    * uniform-quantizer bound Δ²/12, Δ = range/256 (PqSpec pins it).
    *
    * Shape: one d-row stats aggregate (broadcast back), then one
    * encode-and-square pass — map-side into a d-group partial
    * aggregate; the micro-squared errors sum in DECIMAL(38,0) and emit
    * through the rule-6 split, so the report is bit-identical across
    * engines and partitionings. */
  def sq8DistortionReport(emb: DataFrame): DataFrame = {
    import graft.queries.Exact
    val d38 = DecimalType(38, 0)
    val v = graft.core.Tables.spread(emb)
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast(DoubleType).as("x"))
      // null elements would skew n_values vs the summed errors, and NaN
      // floors differently across engines — exclude both, mirrored in
      // the oracle, so the report stays total and bit-identical
      .filter(col("x").isNotNull && !isnan(col("x")))
    val st = v.groupBy("dim").agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
    v.join(broadcast(st), "dim")
      .withColumn("code",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(255L),
            floor((col("x") - col("vmin")) * lit(256.0) /
              (col("vmax") - col("vmin"))).cast(LongType))))
      .withColumn("diff", col("x") - (col("vmin") +
        (col("code").cast(DoubleType) + lit(0.5)) *
          (col("vmax") - col("vmin")) / lit(256.0)))
      .withColumn("me2", floor(col("diff") * col("diff") * lit(1e12)))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_values"),
        min(col("vmin")).as("vmin"), min(col("vmax")).as("vmax"),
        sum(col("me2").cast(d38)).as("ms"))
      .select(col("dim"), col("n_values"), col("vmin"), col("vmax"),
        (Exact.bigColToDouble("ms") / lit(1e12) /
          col("n_values").cast(DoubleType)).as("mse"))
  }

  /** Per-subspace quantization distortion — the audit a PQ deployment
    * publishes next to its codebook (distortion ⇒ recall budget):
    * mean ‖v − c_code‖² per subspace, in micro-points. One scan; the
    * only exchange is the m-row final aggregate. Emits (s, n_vectors,
    * mse). */
  def distortionReport(sub: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = vecDot(col("v"), col("v")) - lit(2) * vecDot(col("v"), col("c")) +
      col("cn2")
    val best = sub.join(broadcast(cb), "s")
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct(assignScore.as("score"), (-col("cid")).as("ncid"),
        floor(d2 * 1e6).cast(LongType).as("md2"))).as("best"))
    best.groupBy(col("s"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("best.md2")).as("ms"))
      .select(col("s"), col("n_vectors"),
        (col("ms").cast(DoubleType) / 1000000.0 /
          col("n_vectors").cast(DoubleType)).as("mse"))
  }
}
