package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Materialize
import graft.functions.VectorFunctions.{cosine, vecDot, vecNorm2}

/** Similarity search over an `(vec_id: long, embedding: array<float>,
  * label: int)` table.
  *
  * Scale design:
  *   - per-vector norms are computed ONCE in a projection before any
  *     pairing (O(n·d) instead of O(n²·d) — at 2M-pair scale this is the
  *     difference between 1 and 3 dot products per pair), and
  *     `sqrt(norm²)` is the same expression the DuckDB oracle uses, so
  *     results stay bit-identical;
  *   - the query set is broadcast (it is small by construction); the data
  *     side streams through a map-side cosine — no shuffle of embeddings;
  *   - top-k per query is a rank over (query, cosine): the window here
  *     ranks |queries|·n rows already reduced by the broadcast join;
  *   - the IVF variant prunes by cell (`label`, a cluster id from a
  *     pre-trained quantizer): probing one cell turns a full scan into a
  *     1/cells scan — the same pruning a label-partitioned table gives
  *     for free at 100 TB.
  */
object Similarity {

  /** Attach the L2 norm once: (cols…, nrm). */
  private def withNorm(df: DataFrame, embCol: String, as: String): DataFrame =
    df.withColumn(as, sqrt(vecNorm2(col(embCol))))

  /** The normed query side every variant pairs against: (query_id,
    * `cols`…, q_nrm). `cols` carry [[qEmb]] and whatever query column
    * the candidate generator joins on, in the caller's order. */
  private def querySide(queries: DataFrame, cols: Column*): DataFrame =
    withNorm(queries.select(col("vec_id").as("query_id") +: cols: _*),
      "q_emb", "q_nrm")

  private def qEmb: Column = col("embedding").as("q_emb")

  private def notSelf: Column = col("vec_id") =!= col("query_id")

  /** (query_id, neighbor_id, cos) for candidate rows carrying (query_id,
    * q_emb, q_nrm) and the corpus (vec_id, embedding, nrm). */
  private def scored(candidates: DataFrame): DataFrame =
    candidates.select(col("query_id"), col("vec_id").as("neighbor_id"),
      cosine(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))

  /** The family's one top-k window: per query_id, the k rows best by
    * (`score` DESC, neighbor_id ASC) — a total order, so ties resolve the
    * same under any partitioning — numbered from 1 in an int `rank`
    * (bigint with `bigintRank`). */
  private[operators] def topK(rows: DataFrame, score: String, k: Int,
                              bigintRank: Boolean = false): DataFrame = {
    val rn = row_number().over(
      Window.partitionBy("query_id").orderBy(desc(score), asc("neighbor_id")))
    rows.withColumn("rank", if (bigintRank) rn.cast(LongType) else rn)
      .filter(col("rank") <= k)
  }

  /** The exact refine step every kNN variant ends in (filter → refine):
    * cosine-score the candidate rows a variant generated and keep the top
    * k per query. Emits (query_id, neighbor_id, rank, cos). */
  private def refine(candidates: DataFrame, k: Int): DataFrame =
    topK(scored(candidates), "cos", k)
      .select("query_id", "neighbor_id", "rank", "cos")

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * other vectors by cosine similarity (self excluded). */
  def knnBrute(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    refine(withNorm(emb, "embedding", "nrm")
      .crossJoin(broadcast(querySide(queries, qEmb))).filter(notSelf), k)

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors whose `label` DIFFERS from the
    * query's — the near-miss negatives a contrastive or reranker
    * trainer pairs against each anchor. Exact (brute) scoring over the
    * label-mismatch candidate set with the same deterministic total
    * order as [[knnBrute]] (cos DESC, neighbor_id ASC). The broadcast
    * side is the bounded query set; at 100 TB prune candidates first
    * (e.g. [[knnIvfMultiProbe]]'s cell ranking with the query's own
    * cell dropped) and rescore exactly — same recall dial as top-k. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    refine(withNorm(emb, "embedding", "nrm")
      .join(broadcast(querySide(queries, col("label").as("q_label"), qEmb)),
        col("label") =!= col("q_label")), k)

  /** IVF-style pruned top-k: only score vectors in the query's own cell
    * (`label`). One-probe IVF: recall trades against the 1/cells scan. */
  def knnIvf(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    refine(withNorm(emb, "embedding", "nrm")
      .join(broadcast(querySide(queries, qEmb, col("label").as("q_label"))),
        col("label") === col("q_label"))
      .filter(notSelf), k)

  /** The query side of every cell-probing variant, one row per probed
    * cell: (query_id, q_emb, q_nrm, q_cell) for the nProbe nearest cells
    * of `q_emb`. Centroids are ranked by the ‖q−c‖² order statistic
    * q·c − ‖c‖²/2 (monotone in true distance), ties broken by cell id via
    * the struct sort — one definition, so the variants can never
    * disagree on probe order. */
  private def probedQueries(queries: DataFrame, centroids: Array[Array[Float]],
                            nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= centroids.length,
      s"nProbe must be in [1, ${centroids.length}], got $nProbe")
    val cellScores = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm2 = c.foldLeft(0.0)((a, x) => a + x.toDouble * x)
      struct(
        (vecDot(col("q_emb"), typedlit(c.toSeq)) - lit(cNorm2 / 2)).as("score"),
        lit(i).as("cell"))
    }
    querySide(queries, qEmb)
      .withColumn("probe",
        explode(slice(reverse(array_sort(array(cellScores.toIndexedSeq: _*))), 1, nProbe)))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("probe.cell").as("q_cell"))
  }

  /** Multi-probe IVF top-k over a quantizer-assigned corpus
    * (`[[Quantizer.trainAndAssign]]` output: vec_id, embedding, cell):
    * each query probes its `nProbe` NEAREST cells instead of exactly one
    * — the standard recall dial of IVF indexes (probe 1 = fastest,
    * probe k = exact brute force; SimilaritySpec asserts both ends).
    *
    * Cell ranking is a map-side projection: centroids are a small
    * literal array (k × dim floats), and argmax of cosine-by-centroid =
    * argmax of (q·c − |c|²/2) up to the query's own constant norm, so
    * ranking needs one [[vecDot]] per centroid and no shuffle. The
    * probe list explodes to (query, cell) rows and equi-joins the
    * corpus on its cell — broadcast on the tiny query side, so the scan
    * reads only probed cells; with the corpus `partitionBy("cell")` on
    * disk this becomes partition pruning at 100 TB. */
  def knnIvfMultiProbe(assigned: DataFrame, queries: DataFrame,
                       centroids: Array[Array[Float]], k: Int,
                       nProbe: Int): DataFrame = {
    val q = broadcast(probedQueries(queries, centroids, nProbe))
    refine(withNorm(assigned, "embedding", "nrm")
      .join(q, col("cell") === col("q_cell")).filter(notSelf), k)
  }

  /** kNN GRAPH: the top-k cosine neighbors of EVERY corpus vector — the
    * substrate for graph-based curation (SemDeDup neighborhoods,
    * diversity sampling, label propagation over near-duplicates).
    *
    * Unlike the query-side variants, BOTH sides are the corpus, so
    * nothing broadcasts: each vector's nProbe nearest cells explode
    * into (cell, vector) probe rows that EQUI-JOIN the cell-assigned
    * corpus — a shuffle join on `cell`, never a product. At 100 TB the
    * assigned table is written `partitionBy("cell")` and this join
    * becomes co-located partition reads. nProbe = #centroids scores
    * every pair exactly once (each data vector's single cell appears
    * exactly once in a full probe list) ⇒ provably the brute-force
    * graph — the gate's setting; small nProbe is the production dial,
    * with recall measured by the same audit as `sim_recall_report`.
    *
    * The corpus side is fanned out (`Tables.spread`) before the join:
    * the pair count is |corpus|²/cells but the INPUT is only |corpus|
    * rows — a single-file corpus scan would otherwise funnel every
    * pair through one task (measured: 4M pairs scored + rank-sorted
    * single-threaded, ~4 s of a 6 s query at sf0.1). */
  def knnGraph(assigned: DataFrame, centroids: Array[Array[Float]], k: Int,
               nProbe: Int): DataFrame = {
    val q = probedQueries(assigned, centroids, nProbe)
    refine(graft.core.Tables.spread(withNorm(assigned, "embedding", "nrm"))
      .join(q, col("cell") === col("q_cell")).filter(notSelf), k)
  }

  /** Radius (range) search: every corpus vector within cosine ≥ `radius`
    * of each query — the threshold dual of top-k (dedup and recall
    * sweeps want "all within ε", not "the best k"). Cheaper than top-k:
    * broadcast query side, map-side cosine filter, and NO rank window —
    * nothing shuffles at all until the caller aggregates. The same cell
    * / LSH pruning as the kNN variants applies when radius is high. */
  def rangeSearch(emb: DataFrame, queries: DataFrame, radius: Double): DataFrame =
    scored(withNorm(emb, "embedding", "nrm")
      .crossJoin(broadcast(querySide(queries, qEmb))).filter(notSelf))
      .filter(col("cos") >= radius)

  /** Recall@k audit report — the artifact an ANN deployment publishes
    * next to its index: for each cutoff k ≤ `maxK`, how much of the
    * EXACT top-k the approximate index recovered within its own top-k.
    * `ann` and `exact` are any two top-k outputs of this family
    * ((query_id, neighbor_id, rank) suffice — e.g. [[knnIvf]] vs
    * [[knnBrute]], or [[knnIvfMultiProbe]] at each probe setting).
    *
    * Shape: both inputs are already rank-truncated (|queries| · k rows),
    * so the report is a join + aggregate over REDUCED data — the k-sweep
    * explodes each true pair into its qualifying cutoffs rather than
    * re-running the search per k. Output: (k, n_true, n_found, recall),
    * recall = n_found / n_true as one exact-integer double division. */
  def recallReport(ann: DataFrame, exact: DataFrame, maxK: Int): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    val e = exact.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("true_rank"))
    val a = ann.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("ann_rank"))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .select(explode(sequence(lit(1L), lit(maxK.toLong))).as("k"),
        col("true_rank"), col("ann_rank"))
      .filter(col("true_rank") <= col("k"))
      .groupBy("k")
      .agg(
        count(lit(1)).as("n_true"),
        // a null ann_rank (pair missed entirely) fails the <= and counts 0
        sum(when(col("ann_rank") <= col("k"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_true").cast("double"))
      .orderBy("k")
  }

  // ------------------------------------------- sign-LSH bucketed pairs

  /** Deterministic Rademacher (±1) hyperplanes via splitmix64 — stable
    * across runs/JVMs, so LSH results are reproducible and task retries
    * see the same buckets. */
  private def hyperplanes(nbits: Int, dim: Int): Seq[Array[Float]] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Seq.fill(nbits)(Array.fill(dim)(if (next() < 0) -1.0f else 1.0f))
  }

  /** Sign-LSH bucketed near-dup pairs — the high-threshold scale path for
    * [[cosinePairs]]: bit_i = sign(v · r_i) (random-hyperplane LSH;
    * P[bits agree] = 1 − θ/π), bits grouped into `bands` keys of
    * `rowsPerBand` bits, candidates = pairs sharing any band key, then
    * exact cosine verification — precision is exact, recall
    * 1 − (1 − p^rows)^bands per pair.
    *
    * Default 16 bands × 8 bits: at cos 0.9 (p ≈ 0.86) recall is
    * 1 − (1 − 0.86⁸)¹⁶ ≈ 0.996, while uncorrelated pairs (p = 0.5)
    * collide in only ~6 % of cases — the verification step then touches
    * 1/16th of the pair space. Each dot against a ±1 hyperplane is a
    * codegen'd [[vecDot]] with a literal array — a map-side projection;
    * the join shuffles only (band, key, vec_id). Near θ = 90° sign bits
    * approach coin flips and cell blocking ([[knnIvf]]) is the right
    * tool instead. */
  def cosineLshPairs(emb: DataFrame, threshold: Double, dim: Int,
                     bands: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    val planes = hyperplanes(bands * rowsPerBand, dim)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(vecDot(col("embedding"), typedlit(p.toSeq)) > 0, lit(1)).otherwise(lit(0))
        .as(s"bit$i")
    }
    val sigs = emb.select(col("vec_id") +: bits: _*)
    val bandKeys = (0 until bands).map { b =>
      val key = (0 until rowsPerBand)
        .map(j => col(s"bit${b * rowsPerBand + j}") * lit(1 << j))
        .reduce(_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }
    val buckets = sigs
      .select(col("vec_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val candidates = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // exact verification of candidates only (precision = 1 by construction)
    val d = withNorm(emb.select(col("vec_id"), col("embedding")), "embedding", "nrm")
    candidates
      .join(d.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
        col("nrm").as("nrm_a")), "vec_a")
      .join(d.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
        col("nrm").as("nrm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), pairCos)
      .filter(col("cos") >= threshold)
  }

  /** `cos` of a verified pair row (e_a, nrm_a, e_b, nrm_b) — shared with
    * [[SemanticDedup]]'s intra-cell and cross-batch verification. */
  private[operators] def pairCos: Column =
    cosine(col("e_a"), col("e_b"), col("nrm_a"), col("nrm_b")).as("cos")

  /** Embedding near-duplicate pairs: all (a < b) with cosine ≥ threshold.
    * Brute force at test scale; [[cosineLshPairs]] is the bucketed scale
    * path for high thresholds, cell blocking for low. */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    // spread the STREAM side of the O(n²) pair join: its partitions are
    // the only parallelism the nested-loop scoring gets
    val a = withNorm(
      graft.core.Tables.spread(
        emb.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"))),
      "e_a", "nrm_a")
    val b = withNorm(
      emb.select(col("vec_id").as("vec_b"), col("embedding").as("e_b")),
      "e_b", "nrm_b")
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), pairCos)
      .filter(col("cos") >= threshold)
  }

  /** Exact d×d covariance matrix of the embedding corpus — the
    * statistics object behind whitening, PCA/OPQ rotations, and
    * snapshot-to-snapshot embedding drift checks. Emits (i, j, n, cov),
    * d² rows, population covariance.
    *
    * Scale shape: the pair pass fans each vector out to its UPPER
    * TRIANGLE of d(d+1)/2 (i, j≥i, xµ·yµ) micro-products MAP-SIDE (a
    * lambda over the array — the heavy object never leaves its scan
    * task; µxi·µxj commutes, so the lower triangle is mirrored from
    * the aggregated 2080 rows, halving the dominant pass) into a hash
    * partial aggregate whose state is bounded per task; the exchange
    * carries thin partials, the result is d² rows however large the
    * corpus. The corpus side is `Tables.spread` first: the fan-out is
    * the heavy stage, and a single-row-group input would otherwise
    * funnel it through one task. Per-dim mean sums come from a
    * second, d-wide pass (1/d the work of the pair pass, which
    * dominates) and broadcast-join onto the moments. Determinism: all
    * moments are exact integers (micro-points in BIGINT /
    * DECIMAL(38,0)); the one division is the rule-6 emit. Envelope:
    * |v| < 2 ⇒ |p| < 4·10¹²; the moments stay exact in DECIMAL(38,0)
    * to n ≈ 10¹⁴, but the BINDING bound is the emit composite
    * numv ≈ n²·4·10¹² against Exact's 2¹⁰⁵ split — exact to
    * n ≈ 2·10⁹ vectors; beyond that shard the corpus (moments merge
    * exactly) and emit through a wider split. */
  def embedCovariance(emb: DataFrame): DataFrame = {
    import graft.queries.Exact
    covarianceMoments(emb)
      .select(col("i"), col("j"), col("n"),
        (Exact.bigColToDouble("numv") / Exact.bigColToDouble("n2") /
          lit(1e12)).as("cov"))
  }

  /** The shared exact-moment core of [[embedCovariance]] /
    * [[covarianceFixed]]: (i, j, n, numv, n2) with
    * numv = n·Σµxµy − Σµx·Σµy and n2 = n² in DECIMAL(38,0) — so
    * numv/n2/1e12 is the population covariance. See [[embedCovariance]]
    * for the scale shape and envelope. */
  private def covarianceMoments(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}
    val d38 = DecimalType(38, 0)
    val mu = (c: org.apache.spark.sql.Column) => floor(c * lit(1e6)).cast(LongType)
    val pairs = graft.core.Tables.spread(emb)
      .select(explode(flatten(transform(col("embedding"),
        (xi, i) => transform(
          slice(col("embedding"), i + lit(1), size(col("embedding")) - i),
          (xj, j0) => struct(i.cast(IntegerType).as("i"),
            (i + j0).cast(IntegerType).as("j"),
            (mu(xi) * mu(xj)).as("p")))))).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
    val tri = pairs.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("p").cast(d38)).as("sp"))
    // mirror the strict upper triangle: n and Σp are symmetric exactly
    val pm = tri.union(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("n"), col("sp")))
    val dm = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(sum(mu(col("x"))).as("sx"))
    pm
      .join(broadcast(dm.select(col("pos").as("i"), col("sx").as("sxi"))), "i")
      .join(broadcast(dm.select(col("pos").as("j"), col("sx").as("sxj"))), "j")
      .withColumn("numv", col("n").cast(d38) * col("sp") -
        col("sxi").cast(d38) * col("sxj").cast(d38))
      .withColumn("n2", col("n").cast(d38) * col("n").cast(d38))
  }

  /** [[embedCovariance]] restated as EXACT fixed-point integers at 1e12
    * scale: c(i,j) = sign(numv)·(|numv| DIV n²) ≈ cov·10¹² — the form
    * iterative linear algebra can consume without a single double
    * (sign-through-abs so Spark's truncating DIV and DuckDB's flooring
    * `//` agree on negatives). */
  def covarianceFixed(emb: DataFrame): DataFrame =
    covarianceMoments(emb).select(col("i"), col("j"),
      expr("""(CASE WHEN numv < 0 THEN -1L ELSE 1L END) *
              ((abs(numv)) DIV n2)""").cast(
        org.apache.spark.sql.types.LongType).as("c"))

  /** Leading principal component by power iteration over the EXACT
    * integer covariance [[covarianceFixed]]: `rounds` rounds of
    *
    *   u = C·v   (exact DECIMAL(38,0) mat-vec)
    *   v ← sign(u)·(|u|·scale DIV max|u|)   (∞-norm normalization)
    *
    * from v₀ = scale·𝟙. Every value stays an exact integer (the ∞-norm
    * replaces the textbook L² norm — same fixed direction up to the
    * monotone rescale, but no sqrt of a sum whose double rounding
    * differs across engines), so the unrolled-CTE oracle matches
    * hash-for-hash — the same discipline as [[graft.operators.Graph]]'s
    * PageRank. Returns (i, v): the ∞-normalized direction, |v| ≤ scale.
    *
    * Degenerate input (ADVICE r16): the ∞-norm normalizer max|u| CAN
    * be zero mid-iteration — C·v lands exactly on the zero vector
    * whenever v ∈ ker C (e.g. v₀ = scale·𝟙 on compositional embeddings
    * whose per-row dim sums are constant, so C·𝟙 = 0). Unlike
    * [[graft.operators.Graph.hits]], whose positive-weight recurrence
    * provably keeps the normalizer ≥ scale, no such invariant exists
    * here — so the normalization guards __m = 0 explicitly and emits
    * the zero vector (a fixed point: every later round stays zero),
    * instead of an engine-dependent division-by-zero abort. A zero
    * result vector therefore MEANS "the iterate hit ker C" — callers
    * wanting a principal component of such a matrix should re-seed.
    *
    * Scale shape: ONE corpus pass builds the d² covariance (the
    * dominant cost, see [[embedCovariance]]); each round is then a
    * d²-row join against a d-row vector — AQE broadcasts the vector —
    * so iteration cost is dimension-sized, never corpus-sized.
    * Envelope: |c| ≤ 4·10¹², |v| ≤ 10⁶ ⇒ |u| ≤ d·4·10¹⁸ and the
    * normalization product |u|·scale ≤ d·4·10²⁴ — inside DECIMAL(38,0)
    * to d ≈ 10¹³.
    */
  def pcaPower(emb: DataFrame, rounds: Int,
               scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // materialize the d²-row matrix ONCE: the corpus-sized fan-out pass
    // must not re-run per round (ReusedExchange would usually save it,
    // but an explicit 4096-row checkpoint makes the single-pass shape a
    // guarantee, not an optimizer outcome, and truncates the per-round
    // join lineage as the other iterative operators do)
    val c = Materialize(covarianceFixed(emb))
    var v = c.select(col("i").as("j")).distinct()
      .select(col("j"), lit(scale).as("x"))
    for (_ <- 1 to rounds) {
      val u = c.join(v, Seq("j"))
        .groupBy("i")
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
          .as("u"))
      val m = u.agg(max(abs(col("u"))).as("__m"))
      v = u.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          expr(s"""CASE WHEN __m = 0 THEN 0L ELSE
                   (CASE WHEN u < 0 THEN -1L ELSE 1L END) *
                   ((abs(u) * CAST($scale AS DECIMAL(38,0))) DIV __m) END""")
            .cast(LongType).as("x"))
    }
    v.select(col("j").as("i"), col("x").as("v"))
  }

  // ------------------------------------------- k-means (Lloyd) training

  /** The shifted micro-grid coordinate array of `embedding` — the exact
    * integer domain every k-means distance/argmin lives on. */
  private def microArr(shift: Long): Column =
    transform(col("embedding"),
      x => floor(x.cast("double") * lit(1e6)).cast(
        org.apache.spark.sql.types.LongType) + lit(shift))

  /** argmin-cell column over a literal micro-grid codebook: exact
    * integer L2 distances via a zip_with fold, ties to the lowest cell
    * id via the lexicographic (d2, cell) struct min. Pure map-side —
    * the codebook enters as literals, so assignment never shuffles. */
  private def argminCellMicro(vmCol: Column,
                              codebook: Seq[(Long, Array[Long])]): Column =
    array_min(array(codebook.map { case (cellId, c) =>
      struct(
        aggregate(
          zip_with(vmCol, typedlit(c.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"),
        lit(cellId).as("cell"))
    }: _*)).getField("cell")

  /** Assign every vector to its nearest micro-grid codebook cell (the
    * TRAINED counterpart of [[SemanticDedup.assignCells]]'s cosine
    * assignment): (input columns…, cell). Codebook rows are
    * (cell, coords-on-the-SHIFTED-grid) as [[kmeansTrainMicro]]'s
    * readout produces; distances are exact integers, so the oracle
    * replays every assignment bit-for-bit. Map-side only. */
  def assignCellsMicro(emb: DataFrame, codebook: Seq[(Long, Array[Long])],
                       shift: Long = 2000000L): DataFrame = {
    require(codebook.nonEmpty, "need at least one codebook cell")
    emb.withColumn("cell", argminCellMicro(microArr(shift), codebook))
  }

  /** Collect a [[kmeansTrainMicro]]-shaped codebook DataFrame
    * ((cell, dim, …, centroid_micro) on the UNshifted grid) back to the
    * literal form [[assignCellsMicro]] consumes — a k·d bounded readout. */
  def readCodebookMicro(codebook: DataFrame,
                        shift: Long = 2000000L): Seq[(Long, Array[Long])] =
    codebook.select(col("cell"), col("dim"), col("centroid_micro"))
      .orderBy("cell", "dim").collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (cellId, rws) =>
        (cellId,
          rws.sortBy(_.getLong(1)).map(_.getLong(2) + shift).toArray)
      }

  /** Top-k exact-cosine neighbors within each query's OWN assigned cell
    * — the serve path of a trained IVF index. `assigned` and `queries`
    * both carry (vec_id, embedding, cell) ([[assignCellsMicro]] output;
    * queries are typically a filtered slice of `assigned`). The query
    * side broadcasts; the corpus side joins on its cell — with the
    * corpus written partitionBy("cell") this is partition pruning at
    * 100 TB, the same shape [[knnIvfMultiProbe]] pins. */
  def knnAssignedCell(assigned: DataFrame, queries: DataFrame,
                      k: Int): DataFrame =
    refine(withNorm(assigned, "embedding", "nrm")
      .join(broadcast(querySide(queries, qEmb, col("cell").as("q_cell"))),
        col("cell") === col("q_cell"))
      .filter(notSelf), k)

  /** Incremental codebook maintenance — the 100 TB reality between
    * retrains: new embedding batches fold into per-(cell, dim)
    * (Σ coordinate, count) state against a FROZEN quantizer, and the
    * served centroid is the floor-mean of the merged state. Because
    * assignment depends only on the frozen codebook and the folded
    * moments are plain sums, fold-per-batch ≡ one-shot
    * assign-and-aggregate over the union EXACTLY — the additivity the
    * `sim_kmeans_incremental` gate proves by replaying the one-shot
    * form in its oracle while this side folds the batches one at a
    * time. Per batch: one map-side assignment (codebook literals, zero
    * shuffle) + one (cell, dim) aggregate + a k·d-row state merge
    * (materialized so B batches never stack lineage); state is
    * ≤ k·d longs however large the corpus. Retraining (the Lloyd loop
    * above) is the scheduled job this maintenance amortizes.
    *
    * Returns (cell, dim, n_members, centroid_micro) like
    * [[kmeansTrainMicro]], over all batches' rows. */
  def kmeansFoldBatches(batches: Seq[DataFrame],
                        codebook: Seq[(Long, Array[Long])],
                        shift: Long = 2000000L): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    var state: DataFrame = null
    for (b <- batches) {
      val delta = assignCellsMicro(b, codebook, shift)
        .select(col("cell"), posexplode(microArr(shift)).as(Seq("pos", "v")))
        .select(col("cell"), (col("pos") + 1).cast(LongType).as("dim"),
          col("v"))
        .groupBy("cell", "dim")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      state = Materialize(
        (if (state == null) delta else state.unionByName(delta))
          .groupBy("cell", "dim")
          .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n")))
    }
    state.select(col("cell"), col("dim"), col("n").as("n_members"),
      (expr("sv DIV n") - lit(shift)).cast(LongType).as("centroid_micro"))
  }

  /** Full Lloyd training loop for the IVF coarse quantizer, EXACT on an
    * integer micro-grid — the multi-round completion of the single
    * refinement step `sim_kmeans_step` gates. Per round:
    *
    *   assign:    cell(v) = argmin_j Σ_i (vm_i − cm_{j,i})²   (ties → min cell)
    *   recompute: cm_{j,i} ← Σ_{v∈j} vm_i DIV n_j             (floor mean)
    *
    * where vm = floor(x·10⁶) + `shift` — the shift (> max|floor(x·10⁶)|)
    * keeps every coordinate, sum, and mean POSITIVE, so Spark's
    * truncating `DIV` and DuckDB's flooring `//` agree and the whole
    * loop — distances, argmins, tie-breaks, means — is exact integer
    * arithmetic both engines replay bit-for-bit (the unrolled-CTE
    * oracle of `sim_kmeans_train`). Re-flooring the centroid to the
    * micro-grid each round is the standard quantized-codebook move
    * (the same grid SQ8/PQ codes live on) and is what keeps round r+1's
    * argmin exact instead of comparing engine-rounded rationals.
    *
    * Scale shape: the centroid state is k·d longs, collected per round
    * under the bounded-readout contract (k·d ≈ 512 rows here — the
    * QualityModel 256-row precedent) and re-broadcast as LITERALS, so
    * ASSIGNMENT IS PURE MAP-SIDE — zero shuffle, exactly
    * [[SemanticDedup.assignCells]]'s shape — and each round costs one
    * corpus scan plus one (cell, dim)-keyed aggregate with k·d rows
    * out. rounds R ⇒ R scans; no corpus-sized state, no corpus×k
    * shuffle ever. An emptied cell drops out of the codebook (standard
    * Lloyd) and later rounds run with fewer cells, identically in the
    * oracle. Envelope: |x| ≤ 2 ⇒ vm ≤ 2·shift = 4·10⁶, per-dim square
    * ≤ 1.6·10¹³, d ≤ 64 ⇒ d2 ≤ 10¹⁵ — comfortably BIGINT.
    *
    * Returns the final codebook: (cell, dim, n_members, centroid_micro)
    * with centroid_micro back on the unshifted micro grid.
    */
  def kmeansTrainMicro(emb: DataFrame, k: Int, rounds: Int,
                       shift: Long = 2000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val pts = emb.select(col("vec_id"), microArr(shift).as("vm"))
    // seed cells 0..k-1 from the first k vectors by vec_id (k-row
    // TakeOrdered readout — deterministic, matches the oracle's
    // ROW_NUMBER() OVER (ORDER BY vec_id) - 1)
    var codebook: Seq[(Long, Array[Long])] =
      pts.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Long](1).toArray).zipWithIndex
        .map { case (c, j) => (j.toLong, c) }.toSeq
    var cent: DataFrame = null
    for (round <- 1 to rounds) {
      val asg = pts.select(col("vec_id"),
        argminCellMicro(col("vm"), codebook).as("cell"), col("vm"))
      // k·d-row result checkpointed: the per-round readout AND the
      // final emit read the materialized rows — exactly one corpus
      // scan per round, and the codebook literals never stack lineage
      cent = Materialize(asg
        .select(col("cell"), posexplode(col("vm")).as(Seq("pos", "v")))
        .select(col("cell"), (col("pos") + 1).cast(LongType).as("dim"),
          col("v"))
        .groupBy("cell", "dim")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          expr("sv DIV n").cast(LongType).as("cm"), col("n")))
      if (round < rounds)
        codebook = cent.orderBy("cell", "dim").collect()
          .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
          .map { case (cellId, rws) =>
            (cellId, rws.sortBy(_.getLong(1)).map(_.getLong(2)).toArray)
          }
    }
    cent.select(col("cell"), col("dim"), col("n").as("n_members"),
      (col("cm") - lit(shift)).cast(LongType).as("centroid_micro"))
  }

  // ------------------------------------------- JL random projection

  /** Deterministic Rademacher sign s(i, j) ∈ {+1, −1} from the first hex
    * character of md5("<seed>:<i>:<j>"): '0'–'7' → +1, '8'–'f' → −1. The
    * SQL mirror is `CASE WHEN substring(md5(...), 1, 1) <= '7'` — both
    * engines hash the identical string, so sign matrices agree exactly. */
  private def jlSign(seed: String, i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b0 = md.digest(
      s"$seed:$i:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))(0)
    if (((b0 >> 4) & 0xf) <= 7) 1 else -1
  }

  /** outDim × inDim sign matrix; row j is the j-th projection direction. */
  def jlSignMatrix(seed: String, inDim: Int, outDim: Int): Array[Array[Int]] =
    Array.tabulate(outDim, inDim)((j, i) => jlSign(seed, i, j))

  /** The JL sketch as a single array Column over `embedding` — shared by
    * [[randomProject]] and [[jlDistortionReport]] so the two can never
    * disagree on a sign or a micro-point. */
  private def jlProjCol(inDim: Int, outDim: Int, seed: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    require(inDim >= 1, s"inDim must be >= 1, got $inDim")
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val signs = jlSignMatrix(seed, inDim, outDim)
    val guarded = when(size(col("embedding")) === lit(inDim), col("embedding"))
      .otherwise(raise_error(concat(
        lit(s"randomProject: expected dim $inDim, got "),
        size(col("embedding")).cast(StringType))))
    val projs = (0 until outDim).map { j =>
      aggregate(
        zip_with(guarded, typedlit(signs(j).toSeq),
          (x, s) =>
            floor(x.cast(DoubleType) * lit(10000.0)).cast(LongType) *
              s.cast(LongType)),
        lit(0L), (acc, t) => acc + t).as(s"p$j")
    }
    array(projs: _*)
  }

  /** Johnson–Lindenstrauss random projection of the embedding column to
    * `outDim` integer coordinates: proj_j = Σ_i µ(x_i)·s(i, j) with
    * µ(x) = ⌊x·10⁴⌋ micro-points and the deterministic [[jlSign]]
    * Rademacher matrix. Exact BIGINT arithmetic end-to-end (the sum is
    * order-insensitive), so two runs — and the DuckDB oracle — agree
    * bit-for-bit, unlike a float Gaussian projection.
    *
    * Scale shape: a pure MAP-SIDE projection (zero shuffle, zero UDF —
    * zip_with/aggregate HOFs inside codegen). The sign matrix is computed
    * ONCE on the driver and inlined as literals: at 100 TB the per-row
    * cost is inDim·outDim multiply-adds, not inDim·outDim md5 calls.
    * Rademacher JL preserves pairwise distances within (1 ± ε) for
    * outDim = O(log n / ε²) — the cheap 8× dimension cut that turns a
    * 64-float distance into an 8-long one before any pair-heavy stage
    * ([[knnJlRerank]] is the consumer). A ragged embedding fails loudly
    * (raise_error), never silently truncates. */
  def randomProject(emb: DataFrame, inDim: Int, outDim: Int,
                    seed: String): DataFrame =
    emb.select(col("vec_id"), jlProjCol(inDim, outDim, seed).as("proj"))

  /** Two-stage ANN through the JL sketch: candidates = the `m` nearest
    * corpus vectors per query by EXACT integer L2 in the projected space
    * ([[randomProject]]), then exact cosine re-rank of those candidates in
    * the original space → top-k. The recall dial is `m`: at m ≥ corpus
    * the candidate set is provably everything and the output equals
    * [[knnBrute]] (the gated end); the interior trades the full-width
    * scan for an outDim-long integer distance per pair — at 64→8 dims the
    * candidate pass reads 8 longs instead of 64 floats per comparison,
    * and only m·|queries| full-width vectors are ever touched again.
    *
    * Shapes: queries broadcast twice (projected for the candidate pass,
    * full-width for the re-rank); the corpus streams map-side through
    * both — no corpus shuffle, no all-pairs product beyond the bounded
    * broadcast nested loop (|queries| rows on the build side). Projected
    * distance stays exact in BIGINT: |proj| ≤ inDim·max|µ(x)|, squared
    * differences sum well inside 2⁶³ for any real embedding scale. */
  def knnJlRerank(emb: DataFrame, queries: DataFrame, inDim: Int,
                  outDim: Int, seed: String, m: Int, k: Int): DataFrame = {
    require(m >= k, s"candidate width m=$m must be >= k=$k")
    // cosine kNN ≡ L2 kNN on the unit sphere, and JL preserves L2 — so
    // the sketch is built over NORMALIZED vectors (a map-side transform;
    // exactness of the gated m = corpus end is unaffected: the candidate
    // pass keeps everything there regardless of its metric)
    // zero-norm guard: an all-zero embedding has no direction — 0/0
    // coordinates would silently poison candidate ranking as NaN, so
    // fail loudly like jlProjCol's ragged-dim guard (ADVICE r12)
    def unit(df: DataFrame): DataFrame = df.select(col("vec_id"),
      zip_with(col("embedding"),
        array_repeat(
          when(vecNorm2(col("embedding")) > 0,
            sqrt(vecNorm2(col("embedding"))))
            .otherwise(raise_error(concat(
              lit("knnJlRerank: zero-norm embedding for vec_id="),
              col("vec_id").cast("string")))),
          inDim),
        (x, n) => (x.cast("double") / n).cast("float")).as("embedding"))
    val p = randomProject(unit(emb), inDim, outDim, seed)
    val pq = randomProject(
      unit(queries.select(col("vec_id"), col("embedding"))), inDim, outDim, seed)
      .select(col("vec_id").as("query_id"), col("proj").as("q_proj"))
    val cand = p
      .join(broadcast(pq), notSelf)
      .select(col("query_id"), col("vec_id"),
        aggregate(
          zip_with(col("proj"), col("q_proj"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, t) => acc + t).as("d2"))
    val wc = Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))
    val top = cand.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= m)
      .select("query_id", "vec_id")
    val d = withNorm(emb.select(col("vec_id"), col("embedding")),
      "embedding", "nrm")
    refine(top.join(d, "vec_id").join(broadcast(querySide(queries, qEmb)),
      "query_id"), k)
  }

  /** JL sketch distortion audit — the calibration report a deployment
    * publishes next to its projection (the [[ProductQuantizer]] family
    * ships the same audit for PQ and SQ8): per query, the total TRUE
    * micro squared L2 mass to every other vector vs the sketch's
    * estimate Σ_j Δproj_j² / outDim, and their ratio (E[ratio] = 1
    * under the Rademacher JL identity E‖Sx‖² = outDim·‖x‖²).
    *
    * Determinism: both masses are EXACT integer moments (micro-point
    * BIGINTs summed in DECIMAL(38,0)); the only doubles are the rule-6
    * emits and one final division, structured identically in the
    * oracle. Shape: queries broadcast with their micro vectors and
    * sketches inline; the corpus streams through one map-side pair pass
    * into a |queries|-row aggregate — no corpus shuffle. */
  def jlDistortionReport(emb: DataFrame, queries: DataFrame, inDim: Int,
                         outDim: Int, seed: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    import graft.queries.Exact
    val d38 = DecimalType(38, 0)
    val muVec = transform(col("embedding"),
      x => floor(x.cast(DoubleType) * lit(10000.0)).cast(LongType))
    // micro vector + sketch in ONE map-side projection (no self-join)
    def side(df: DataFrame, id: String, mu: String, pj: String) =
      df.select(col("vec_id").as(id), muVec.as(mu),
        jlProjCol(inDim, outDim, seed).as(pj))
    val corpus = side(emb, "vec_id", "mx", "px")
    val q = broadcast(side(queries.select(col("vec_id"), col("embedding")),
      "query_id", "mq", "pq"))
    def sq(a: org.apache.spark.sql.Column) = a * a
    corpus.join(q, notSelf)
      .select(col("query_id"),
        aggregate(zip_with(col("mx"), col("mq"), (a, b) => sq(a - b)),
          lit(0L), (acc, t) => acc + t).as("true_d2"),
        aggregate(zip_with(col("px"), col("pq"), (a, b) => sq(a - b)),
          lit(0L), (acc, t) => acc + t).as("sk_d2"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("true_d2").cast(d38)).as("st"),
        sum(col("sk_d2").cast(d38)).as("ss"))
      .select(col("query_id"), col("n_pairs"),
        Exact.bigColToDouble("st").as("sum_true_d2"),
        Exact.bigColToDouble("ss").as("sum_sketch_d2"),
        // a query identical to every corpus vector has zero true mass;
        // the ratio is then undefined — NULL, never 0/0 = NaN poison
        // (oracle carries the same CASE)
        when(Exact.bigColToDouble("st") > 0,
          Exact.bigColToDouble("ss") /
            (lit(outDim.toDouble) * Exact.bigColToDouble("st")))
          .as("ratio"))
  }
}
