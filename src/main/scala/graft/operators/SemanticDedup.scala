package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.VectorFunctions.{cosine, vecDot, vecNorm2}

/** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
  * embedding space coarsely, then prune near-duplicate vectors WITHIN each
  * cluster — the published scale path for embedding-level dedup. The
  * all-pairs cosine join that is O(n²) over the corpus becomes O(Σ|cellᵢ|²)
  * with k cells, a k× reduction for balanced cells, and each cell's pair
  * join is an equi-join on the cell id — shuffle-partitioned, never a
  * cartesian product over the corpus.
  *
  * Mirrors the reference's dedup intent (it has none over embeddings —
  * this is part of the LLM-pipeline extension surface, like
  * `/root/reference`'s document tables motivate the text dedup family).
  *
  * Scale design:
  *   - cell assignment is a MAP-SIDE argmax over k literal centroids
  *     (no join, no shuffle): score = v·c / |c| — dividing by the
  *     row-constant |v| cannot change the argmax, so the norm of the
  *     data vector is never computed here;
  *   - ties (equal score) break toward the LOWEST cell id via an
  *     `array_max` over (score, −cell) structs — same total order the
  *     relational oracle uses (ORDER BY score DESC, cell ASC);
  *   - the intra-cell prune is one equi-join on `cell` with `vec_a <
  *     vec_b` + exact cosine ≥ threshold; survivors drop every vector
  *     that has a smaller-id near-duplicate in its cell (greedy
  *     keep-the-earliest — the standard SemDeDup policy);
  *   - at 100 TB the assignment runs with centroids from
  *     [[Quantizer.trainAndAssign]] (sampled KMeans) and the corpus is
  *     written `partitionBy("cell")`, making the prune join co-located.
  */
object SemanticDedup {

  /** Assign every vector its nearest centroid by cosine: (input columns…,
    * cell). Map-side only — centroids ship as literals, like an IVF
    * coarse quantizer's codebook. Ties break toward the lowest cell id. — NOTE the distance-measure contract: this argmax is COSINE;
    * centroids trained and base-assigned by [[Quantizer.trainAndAssign]]
    * with its default EUCLIDEAN measure must not be mixed with
    * assignments from here on un-normalized embeddings (review r18 —
    * pass distanceMeasure = "cosine" there, or assign both sides here).
    */
  def assignCells(emb: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      struct(
        (vecDot(col("embedding"), typedlit(c.toSeq)) / lit(cNorm)).as("s"),
        lit(-i).as("nc"))
    }
    emb.withColumn("cell",
      (-array_max(array(scored.toIndexedSeq: _*)).getField("nc")).cast(LongType))
  }

  /** Near-duplicate pairs within a cell: (vec_a < vec_b, cell, cos) with
    * exact cosine ≥ threshold. Equi-join on `cell` — the plan carries no
    * cartesian/BNL join (PlanSpec-pinned via the gated entry). */
  def intraCellPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val d = assigned
      .select(col("vec_id"), col("embedding"), col("cell"))
      .withColumn("nrm", sqrt(vecNorm2(col("embedding"))))
    val a = d.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = d.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
      col("nrm").as("nrm_b"), col("cell").as("cell_b"))
    a.join(b, col("cell") === col("cell_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cell"), Similarity.pairCos)
      .filter(col("cos") >= threshold)
  }

  /** Survivors of semantic dedup: every vector that has NO smaller-id
    * near-duplicate in its own cell. Output (vec_id, cell). */
  def survivors(assigned: DataFrame, threshold: Double): DataFrame = {
    val dropped = intraCellPairs(assigned, threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Incremental SemDeDup — the daily-crawl fold for the embedding
    * family: given the PERSISTED state (the cell-assigned base corpus —
    * at 100 TB a `partitionBy("cell")` table — and its survivor list),
    * fold a new-vector batch WITHOUT re-scoring a single base×base
    * pair. Per-increment work: map-side cell assignment of the batch,
    * one cell-equi join batch × base (co-located when the base table is
    * cell-partitioned; cost ∝ |batch| · avg cell size), and the
    * intra-batch prune.
    *
    * Exact under ARBITRARY id interleaving — no append-only id contract
    * needed: the dropped set of the keep-smallest-id policy is
    * dropped(v) ⇔ ∃ u < v, same cell, cos ≥ t, with u ranging over the
    * WHOLE corpus, so the fold re-checks both directions of the cross
    * pairs — a batch arrival with a smaller id than a base survivor
    * evicts it, exactly as the full recompute would (spec + gate:
    * incremental ≡ [[survivors]] over the union). */
  def incrementalSurvivors(baseAssigned: DataFrame,
                           baseSurvivors: DataFrame, batch: DataFrame,
                           centroids: Array[Array[Float]],
                           threshold: Double): DataFrame = {
    val nb = assignCells(batch, centroids)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val nbn = nb.withColumn("nrm", sqrt(vecNorm2(col("embedding"))))
    val ba = baseAssigned
      .select(col("vec_id").as("b_id"), col("embedding").as("b_e"),
        col("cell").as("b_cell"))
      .withColumn("b_nrm", sqrt(vecNorm2(col("b_e"))))
    val cross = ba.join(nbn, col("b_cell") === col("cell"))
      .filter(cosine(col("b_e"), col("embedding"), col("b_nrm"), col("nrm"))
        >= threshold)
      .select(col("b_id"), col("vec_id"))
    val droppedBase = cross.filter(col("b_id") > col("vec_id"))
      .select(col("b_id").as("vec_id")).distinct()
    val droppedNew = cross.filter(col("vec_id") > col("b_id"))
      .select(col("vec_id"))
      .unionByName(intraCellPairs(nb, threshold)
        .select(col("vec_b").as("vec_id")))
      .distinct()
    baseSurvivors.join(droppedBase, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .unionByName(nb.join(droppedNew, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell")))
  }
}
