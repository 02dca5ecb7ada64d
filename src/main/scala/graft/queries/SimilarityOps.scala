package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Materialize, Tables}
import graft.operators.{SemanticDedup, Similarity}
import graft.operators.{ProductQuantizer => Pq}

/** Similarity-search inventory over `embeddings` (64-dim float vectors).
  * Query set = vec_id < 10 (deterministic), k = 5. The cosine formula is
  * structured identically on both sides (dot / (sqrt·sqrt), left-to-right
  * double accumulation) so results are bit-identical. */
object SimilarityOps {

  private def queries(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "embeddings").filter(col("vec_id") < 10)

  /** Unrolled-round DuckDB replay of [[Similarity.kmeansTrainMicro]]:
    * pts on the shifted micro grid, c0 = first-k seed, then per round
    * d_i (exact integer distances via a dim join), a_i (argmin with the
    * d2-asc/cell-asc tie-break), c_i (floor-mean recompute, `//` ≡ DIV
    * on the all-positive grid). Emits the final codebook unshifted. */
  private def kmeansRoundSql(i: Int): String =
    s"""d$i AS (
       |    SELECT p.vec_id, c.cell, SUM((p.vm - c.cm)*(p.vm - c.cm)) AS d2
       |    FROM pts p JOIN c${i - 1} c ON c.dim = p.dim
       |    GROUP BY 1, 2),
       |  a$i AS (
       |    SELECT vec_id, cell FROM (
       |      SELECT vec_id, cell, ROW_NUMBER() OVER (
       |        PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
       |      FROM d$i) WHERE rn = 1),
       |  c$i AS (
       |    SELECT a.cell, p.dim,
       |           CAST(SUM(p.vm) // COUNT(*) AS BIGINT) AS cm,
       |           CAST(COUNT(*) AS BIGINT) AS n
       |    FROM a$i a JOIN pts p ON p.vec_id = a.vec_id
       |    GROUP BY 1, 2)""".stripMargin

  /** The shared CTE prefix of every trained-k-means oracle: shifted
    * micro-grid points, the first-k seed codebook, and `rounds`
    * unrolled assign/argmin/recompute blocks ending in c<rounds>. */
  private def kmeansPrefixSql(k: Int, rounds: Int, shift: Long): String =
    s"""WITH pts AS (
       |    SELECT vec_id, CAST(t.i AS BIGINT) AS dim,
       |           CAST(FLOOR(e[t.i] * 1e6) AS BIGINT) + $shift AS vm
       |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |          FROM embeddings),
       |         LATERAL unnest(generate_series(1, len(e))) AS t(i)),
       |  c0 AS (
       |    SELECT c.cell, p.dim, p.vm AS cm, CAST(1 AS BIGINT) AS n
       |    FROM (SELECT vec_id,
       |                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |                   AS cell
       |          FROM (SELECT vec_id FROM embeddings
       |                ORDER BY vec_id LIMIT $k)) c
       |    JOIN pts p ON p.vec_id = c.vec_id),
       |  ${(1 to rounds).map(kmeansRoundSql).mkString(",\n  ")}""".stripMargin

  private def kmeansReplaySql(k: Int, rounds: Int, shift: Long): String =
    s"""${kmeansPrefixSql(k, rounds, shift)}
       |  SELECT cell, dim, n AS n_members,
       |         CAST(cm - $shift AS BIGINT) AS centroid_micro
       |  FROM c$rounds ORDER BY cell, dim""".stripMargin

  /** Trained-IVF serve oracle: the k-means prefix, one more
    * assign/argmin block over the FINAL codebook (the corpus index),
    * then exact cosine top-k within each query's own cell — the same
    * dot/(sqrt·sqrt) structure as [[bruteSql]]. */
  private def kmeansServeSql(k: Int, rounds: Int, shift: Long,
                             topK: Int): String = {
    val idx = rounds + 1
    s"""${kmeansPrefixSql(k, rounds, shift)},
       |  d$idx AS (
       |    SELECT p.vec_id, c.cell, SUM((p.vm - c.cm)*(p.vm - c.cm)) AS d2
       |    FROM pts p JOIN c$rounds c ON c.dim = p.dim
       |    GROUP BY 1, 2),
       |  idx AS (
       |    SELECT vec_id, cell FROM (
       |      SELECT vec_id, cell, ROW_NUMBER() OVER (
       |        PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
       |      FROM d$idx) WHERE rn = 1),
       |  de AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |         FROM embeddings),
       |  q AS (
       |    SELECT i.vec_id AS query_id, i.cell, d.e
       |    FROM idx i JOIN de d ON d.vec_id = i.vec_id
       |    WHERE i.vec_id < 10),
       |  scored AS (
       |    SELECT q.query_id, i.vec_id AS neighbor_id,
       |           list_dot_product(q.e, d.e)
       |             / (sqrt(list_dot_product(q.e, q.e))
       |                * sqrt(list_dot_product(d.e, d.e))) AS cos
       |    FROM q JOIN idx i ON i.cell = q.cell AND i.vec_id <> q.query_id
       |         JOIN de d ON d.vec_id = i.vec_id),
       |  r AS (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM scored)
       |  SELECT query_id, neighbor_id, rank, cos
       |  FROM r WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** One-shot assign-and-aggregate over the FROZEN 2-round codebook —
    * the shared oracle of both index-maintenance gates
    * (`sim_kmeans_incremental`, `sim_kmeans_streamed`): whatever
    * batching or state protocol the Spark side folds through, the
    * merged (cell, dim) moments must equal this single pass. */
  private val kmeansOneShotFoldSql: String =
    s"""${kmeansPrefixSql(8, 2, 2000000L)},
       |  d3 AS (
       |    SELECT p.vec_id, c.cell, SUM((p.vm - c.cm)*(p.vm - c.cm)) AS d2
       |    FROM pts p JOIN c2 c ON c.dim = p.dim
       |    GROUP BY 1, 2),
       |  idx AS (
       |    SELECT vec_id, cell FROM (
       |      SELECT vec_id, cell, ROW_NUMBER() OVER (
       |        PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
       |      FROM d3) WHERE rn = 1)
       |  SELECT i.cell, p.dim, CAST(COUNT(*) AS BIGINT) AS n_members,
       |         CAST(SUM(p.vm) // COUNT(*) - 2000000 AS BIGINT)
       |           AS centroid_micro
       |  FROM idx i JOIN pts p ON p.vec_id = i.vec_id
       |  GROUP BY 1, 2 ORDER BY cell, dim""".stripMargin

  private val cosineSql =
    """list_dot_product(q.e, d.e)
       / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(d.e, d.e)))"""

  /** Exact brute-force top-k SQL — the oracle for the brute entry AND
    * (verbatim) for the all-cells multi-probe entry, whose output is
    * provably the same set: probing every cell scores every (query,
    * vector) pair exactly once. */
  private val bruteSql =
    s"""WITH d AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e FROM d WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
          FROM q, d WHERE d.vec_id <> q.query_id),
        r AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, rank, cos
        FROM r WHERE rank <= 5 ORDER BY query_id, rank"""

  val entries: Seq[Entry] = Seq(

    // brute-force cosine top-k — the exact baseline every ANN variant is
    // measured against.
    Entry(
      "sim_knn_brute",
      (s, dir) => Similarity
        .knnBrute(Tables(s, dir, "embeddings"), queries(s, dir), 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank"),
      Some(bruteSql)),

    // ⊕ hard-negative mining — the contrastive-training counterpart of
    // top-k: per anchor query, the 5 most-similar vectors of a
    // DIFFERENT class (near-miss negatives). Exact scoring over the
    // label-mismatch candidate set, deterministic total order (cos
    // DESC, neighbor_id). The broadcast side is the bounded anchor
    // set; the 100 TB path prunes candidates by ranked IVF cells
    // (query's own cell dropped) before the exact rescore — the same
    // recall dial the knn family pins.
    Entry(
      "sim_hard_negatives",
      (s, dir) => Similarity
        .hardNegatives(Tables(s, dir, "embeddings"), queries(s, dir), 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank"),
      Some(s"""WITH d AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               q AS (SELECT vec_id AS query_id, label AS q_label, e
                     FROM d WHERE vec_id < 10),
               scored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q JOIN d ON d.label <> q.q_label),
               r AS (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                 FROM scored)
               SELECT query_id, neighbor_id, rank, cos
               FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // IVF-style one-probe ANN: scan only the query's own cell (label);
    // the 100 TB path scans 1/cells of the data via partition pruning.
    Entry(
      "sim_knn_ivf",
      (s, dir) => Similarity
        .knnIvf(Tables(s, dir, "embeddings"), queries(s, dir), 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank"),
      Some(s"""WITH d AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               q AS (SELECT vec_id AS query_id, label AS q_label, e FROM d WHERE vec_id < 10),
               scored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q JOIN d ON d.label = q.q_label AND d.vec_id <> q.query_id),
               r AS (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                 FROM scored)
               SELECT query_id, neighbor_id, rank, cos
               FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // multi-probe IVF over a trained coarse quantizer, gated at its
    // exact end of the recall dial: probing ALL cells scores every
    // (query, vector) pair exactly once — each corpus vector lives in
    // exactly one cell and every cell is probed — so the output is
    // provably the brute-force top-k and the oracle is sim_knn_brute's
    // SQL verbatim. The probe list, centroid ranking, and per-cell
    // equi-join are the REAL multi-probe plan (partition pruning at
    // scale); SimilaritySpec covers the interior of the dial (recall
    // grows monotonically with nProbe) where no exact oracle exists.
    Entry(
      "sim_knn_ivf_multiprobe",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val (assigned, centroids) =
          graft.operators.Quantizer.trainAndAssign(emb, k = 4)
        Similarity
          .knnIvfMultiProbe(assigned, queries(s, dir), centroids, 5,
            nProbe = centroids.length)
          .withColumn("rank", col("rank").cast(LongType))
          .orderBy("query_id", "rank")
      },
      Some(bruteSql)),

    // Johnson–Lindenstrauss random projection 64 → 8 dims: exact BIGINT
    // micro-point arithmetic against a deterministic md5-derived
    // Rademacher sign matrix — pure map-side, zero shuffle; the oracle
    // recomputes the identical signs from the identical md5 strings.
    Entry(
      "sim_random_projection",
      (s, dir) => Similarity
        .randomProject(Tables(s, dir, "embeddings"), 64, 8, "graft")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "proj")))
        .withColumn("j", col("j").cast(LongType))
        .orderBy("vec_id", "j"),
      Some("""WITH e AS (
                SELECT vec_id, t.i AS i,
                       CAST(embedding[t.i + 1] AS DOUBLE) AS x
                FROM embeddings, range(0, 64) t(i)),
              s AS (
                SELECT e.vec_id, j.j,
                       CAST(FLOOR(e.x * 10000.0) AS BIGINT) *
                       (CASE WHEN substring(
                                md5('graft:' || CAST(e.i AS VARCHAR) || ':' ||
                                    CAST(j.j AS VARCHAR)), 1, 1) <= '7'
                             THEN 1 ELSE -1 END) AS term
                FROM e, range(0, 8) j(j))
              SELECT vec_id, j, CAST(SUM(term) AS BIGINT) AS proj
              FROM s GROUP BY vec_id, j ORDER BY vec_id, j""")),

    // two-stage ANN through the JL sketch, gated at the provable end of
    // its recall dial: candidate width m = corpus ⇒ the integer-L2
    // candidate pass keeps everything and the exact re-rank provably
    // equals brute force (oracle verbatim). SimilaritySpec covers the
    // interior (recall@5 at m ≪ corpus), where no exact oracle exists.
    Entry(
      "sim_knn_jl_rerank",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val n = emb.count().toInt // scalar action, sizes the provable end
        Similarity.knnJlRerank(emb, queries(s, dir), 64, 16, "graft",
            m = n, k = 5)
          .withColumn("rank", col("rank").cast(LongType))
          .orderBy("query_id", "rank")
      },
      Some(bruteSql)),

    // ⊕ JL sketch distortion audit (the calibration report of the
    // projection family, next to PQ's and SQ8's): per query, total true
    // micro-L2 mass vs the sketch estimate and their ratio — exact
    // integer moments, rule-6 emits, E[ratio] = 1.
    Entry(
      "sim_jl_distortion",
      (s, dir) => Similarity
        .jlDistortionReport(Tables(s, dir, "embeddings"),
          queries(s, dir), 64, 8, "graft")
        .orderBy("query_id"),
      Some(s"""WITH m AS (
                 SELECT vec_id, t.i AS i,
                        CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE)
                             * 10000.0) AS BIGINT) AS mx
                 FROM embeddings, range(0, 64) t(i)),
               qm AS (SELECT vec_id AS query_id, i, mx FROM m WHERE vec_id < 10),
               td AS (
                 SELECT qm.query_id, m.vec_id,
                        SUM((m.mx - qm.mx) * (m.mx - qm.mx)) AS true_d2
                 FROM m JOIN qm ON m.i = qm.i AND m.vec_id <> qm.query_id
                 GROUP BY 1, 2),
               p AS (
                 SELECT vec_id, j.j AS j,
                        SUM(mx * (CASE WHEN substring(
                              md5('graft:' || CAST(i AS VARCHAR) || ':' ||
                                  CAST(j.j AS VARCHAR)), 1, 1) <= '7'
                            THEN 1 ELSE -1 END)) AS proj
                 FROM m, range(0, 8) j(j) GROUP BY 1, 2),
               pq AS (SELECT vec_id AS query_id, j, proj FROM p WHERE vec_id < 10),
               sd AS (
                 SELECT pq.query_id, p.vec_id,
                        SUM((p.proj - pq.proj) * (p.proj - pq.proj)) AS sk_d2
                 FROM p JOIN pq ON p.j = pq.j AND p.vec_id <> pq.query_id
                 GROUP BY 1, 2)
               SELECT td.query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                      ${Exact.bigSqlToDouble("SUM(true_d2)")} AS sum_true_d2,
                      ${Exact.bigSqlToDouble("SUM(sk_d2)")} AS sum_sketch_d2,
                      CASE WHEN ${Exact.bigSqlToDouble("SUM(true_d2)")} > 0
                           THEN ${Exact.bigSqlToDouble("SUM(sk_d2)")}
                             / (8.0 * ${Exact.bigSqlToDouble("SUM(true_d2)")})
                      END AS ratio
               FROM td JOIN sd ON td.query_id = sd.query_id
                              AND td.vec_id = sd.vec_id
               GROUP BY td.query_id ORDER BY td.query_id""")),

    // kNN GRAPH: top-3 neighbors of EVERY vector — corpus × corpus, so
    // nothing broadcasts: probe cells explode and EQUI-JOIN the
    // cell-assigned corpus (shuffle on cell, plan-guarded no-product).
    // Full probe list ⇒ provably the brute graph; the oracle is the
    // all-pairs SQL.
    Entry(
      "sim_knn_graph",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val (assigned, centroids) =
          graft.operators.Quantizer.trainAndAssign(emb, k = 4)
        Similarity.knnGraph(assigned, centroids, k = 3,
            nProbe = centroids.length)
          .withColumn("rank", col("rank").cast(LongType))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH d AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               q AS (SELECT vec_id AS query_id, e FROM d),
               scored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q, d WHERE d.vec_id <> q.query_id),
               r AS (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                 FROM scored)
               SELECT query_id, neighbor_id, rank, cos
               FROM r WHERE rank <= 3 ORDER BY query_id, rank""")),

    // recall@k audit report: per cutoff k, measured recall of the
    // one-probe IVF index against the exact brute-force top-k — the
    // artifact an ANN deployment publishes. The oracle re-derives BOTH
    // sides from scratch (the brute and IVF CTEs verbatim) and restates
    // the k-sweep relationally; the multi-probe recall sweep (KMeans
    // cells, not SQL-expressible) is the SimilaritySpec twin of this
    // report, asserted monotone in nProbe over the same operator.
    Entry(
      "sim_recall_report",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        // the ANN arm and the brute ground-truth arm are independent
        // 50-row reductions compared only inside recallReport —
        // overlap them (guide §2.6, core.Materialize)
        val Seq(ann, exact) = Materialize.all(
          Similarity.knnIvf(emb, queries(s, dir), 5),
          Similarity.knnBrute(emb, queries(s, dir), 5))
        Similarity.recallReport(ann = ann, exact = exact, maxK = 5)
      },
      Some(s"""WITH d AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               q AS (SELECT vec_id AS query_id, label AS q_label, e FROM d WHERE vec_id < 10),
               bscored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q, d WHERE d.vec_id <> q.query_id),
               brute AS (
                 SELECT query_id, neighbor_id, rank FROM (
                   SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                   FROM bscored) WHERE rank <= 5),
               iscored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q JOIN d ON d.label = q.q_label AND d.vec_id <> q.query_id),
               ivf AS (
                 SELECT query_id, neighbor_id, rank FROM (
                   SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                   FROM iscored) WHERE rank <= 5),
               j AS (
                 SELECT b.rank AS true_rank, i.rank AS ann_rank
                 FROM brute b LEFT JOIN ivf i
                   ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id),
               ks AS (SELECT unnest(generate_series(1, 5)) AS k)
               SELECT ks.k,
                      CAST(COUNT(*) AS BIGINT) AS n_true,
                      CAST(COALESCE(SUM(CASE WHEN j.ann_rank <= ks.k THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found,
                      CAST(COALESCE(SUM(CASE WHEN j.ann_rank <= ks.k THEN 1 ELSE 0 END), 0) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE) AS recall
               FROM ks, j WHERE j.true_rank <= ks.k
               GROUP BY ks.k ORDER BY ks.k""")),

    // ⊕ IVF cell-balance report: per-cell population, corpus share, and
    // balance factor (n·k·10⁶ ÷ N ppm; 10⁶ = perfectly balanced) over
    // the deterministic 8-centroid assignment — the pre-flight that
    // decides whether the quantizer needs retraining before cell-skew
    // turns probe cost quadratic on a hot cell. One assignment pass
    // (map-side argmax against the broadcast codebook) + a k-row agg.
    Entry(
      "sim_ivf_balance",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val codebook = emb.orderBy("vec_id").limit(8).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray)
        val asg = SemanticDedup.assignCells(emb, codebook)
        asg.groupBy("cell")
          .agg(count(lit(1)).cast(LongType).as("n_vecs"))
          // total = bare corpus count (every vector gets exactly one
          // cell) — counting `asg` instead would re-run the full argmax
          // assignment pass just to produce the same number
          .crossJoin(broadcast(emb.agg(count(lit(1)).as("__n"))))
          .select(col("cell"), col("n_vecs"),
            expr("(n_vecs * 1000000L) DIV __n").as("share_ppm"),
            expr("(n_vecs * 8000000L) DIV __n").as("balance_ppm"))
          .orderBy("cell")
      },
      Some("""WITH c AS (
                SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
                       CAST(embedding AS DOUBLE[]) AS ce
                FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
              v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              sc AS (
                SELECT v.vec_id, c.cell,
                       list_dot_product(v.e, c.ce) / sqrt(list_dot_product(c.ce, c.ce)) AS s
                FROM v CROSS JOIN c),
              asg AS (
                SELECT vec_id, cell FROM (
                  SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
                  FROM sc) WHERE rn = 1),
              g AS (
                SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
                FROM asg GROUP BY 1),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asg)
              SELECT cell, n_vecs,
                     CAST((n_vecs * 1000000) // (SELECT n FROM t) AS BIGINT)
                       AS share_ppm,
                     CAST((n_vecs * 8000000) // (SELECT n FROM t) AS BIGINT)
                       AS balance_ppm
              FROM g ORDER BY cell""")),

    // ⊕ per-cell centroid drift between two corpus snapshots (here: the
    // vec_id parity halves standing in for crawl N vs crawl N+1): L1
    // distance of per-cell mean vectors — the embedding-drift monitor
    // that says WHICH region of the space moved before anyone re-trains
    // a quantizer or re-runs semantic dedup. All moments exact micro
    // integers on the common denominator n_a·n_b (means are never
    // subtracted as doubles — summation order could flip a bit); one
    // rule-6 emit per cell. Cells missing either snapshot are filtered
    // (drift is undefined there), stated on both sides.
    Entry(
      "sim_centroid_drift",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d38 = DecimalType(38, 0)
        val emb = Tables(s, dir, "embeddings")
        val codebook = emb.orderBy("vec_id").limit(8).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray)
        val asg = SemanticDedup.assignCells(emb, codebook)
        val isA = col("vec_id") % 2 === 0
        val counts = asg.groupBy("cell").agg(
          sum(when(isA, 1L).otherwise(0L)).as("n_a"),
          sum(when(isA, 0L).otherwise(1L)).as("n_b"))
        val mu = floor(col("x") * lit(1e6)).cast(LongType)
        val dims = asg
          .select(col("cell"), col("vec_id"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy("cell", "dim")
          .agg(sum(when(isA, mu).otherwise(0L)).cast(d38).as("sa"),
            sum(when(isA, 0L).otherwise(mu)).cast(d38).as("sb"))
        val num = dims.join(counts, "cell")
          .select(col("cell"),
            abs(col("sa") * col("n_b").cast(d38) -
              col("sb") * col("n_a").cast(d38)).as("term"))
          .groupBy("cell").agg(sum(col("term")).as("numv"))
        num.join(counts, "cell")
          .filter(col("n_a") > 0 && col("n_b") > 0)
          .withColumn("nab", (col("n_a").cast(d38) * col("n_b").cast(d38)))
          .select(col("cell"), col("n_a"), col("n_b"),
            (Exact.bigColToDouble("numv") / Exact.bigColToDouble("nab") /
              lit(1e6)).as("l1_drift"))
          .orderBy("cell")
      },
      Some(s"""WITH c AS (
                SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
                       CAST(embedding AS DOUBLE[]) AS ce
                FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
              v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              sc AS (
                SELECT v.vec_id, c.cell,
                       list_dot_product(v.e, c.ce) / sqrt(list_dot_product(c.ce, c.ce)) AS s
                FROM v CROSS JOIN c),
              asg AS (
                SELECT vec_id, cell FROM (
                  SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
                  FROM sc) WHERE rn = 1),
              counts AS (
                SELECT cell,
                       CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
                FROM asg GROUP BY 1),
              dims AS (
                SELECT asg.cell, CAST(a.range AS INTEGER) AS dim,
                       SUM(CASE WHEN asg.vec_id % 2 = 0
                           THEN CAST(FLOOR(v.e[a.range+1] * 1e6) AS HUGEINT)
                           ELSE 0 END) AS sa,
                       SUM(CASE WHEN asg.vec_id % 2 = 0 THEN 0
                           ELSE CAST(FLOOR(v.e[a.range+1] * 1e6) AS HUGEINT)
                           END) AS sb
                FROM asg JOIN v USING (vec_id), range(0,64) a
                GROUP BY 1, 2),
              num AS (
                SELECT d.cell,
                       SUM(abs(d.sa * ct.n_b - d.sb * ct.n_a)) AS numv
                FROM dims d JOIN counts ct USING (cell)
                GROUP BY 1),
              f AS (
                SELECT num.cell, ct.n_a, ct.n_b, num.numv,
                       CAST(ct.n_a AS HUGEINT) * ct.n_b AS nab
                FROM num JOIN counts ct USING (cell)
                WHERE ct.n_a > 0 AND ct.n_b > 0)
              SELECT cell, n_a, n_b,
                     ${Exact.bigSqlToDouble("numv")} /
                       ${Exact.bigSqlToDouble("nab")} / 1e6 AS l1_drift
              FROM f ORDER BY cell""")),

    // ⊕ Matryoshka truncation audit: recall@k of top-5 retrieval using
    // only the FIRST 16 of 64 dims vs the full-dim exact ranking — the
    // measurement behind serving truncated (MRL-style) embeddings at a
    // quarter of the memory/FLOPs. Rank sets only, so the report is
    // float-robust by construction; both arms brute over the tiny
    // allowlisted query set (at scale the truncated arm feeds IVF and
    // this report stays the acceptance gate for the truncation).
    Entry(
      "sim_matryoshka_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val trunc = (df: org.apache.spark.sql.DataFrame) =>
          df.withColumn("embedding", slice(col("embedding"), 1, 16))
        Similarity.recallReport(
          ann = Similarity.knnBrute(trunc(emb), trunc(queries(s, dir)), 5),
          exact = Similarity.knnBrute(emb, queries(s, dir), 5),
          maxK = 5)
      },
      Some(s"""WITH d AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                        list_slice(CAST(embedding AS DOUBLE[]), 1, 16) AS t
                 FROM embeddings),
               q AS (SELECT vec_id AS query_id, e, t FROM d WHERE vec_id < 10),
               bscored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q, d WHERE d.vec_id <> q.query_id),
               brute AS (
                 SELECT query_id, neighbor_id, rank FROM (
                   SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                   FROM bscored) WHERE rank <= 5),
               tscored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id,
                        list_dot_product(q.t, d.t)
                          / (sqrt(list_dot_product(q.t, q.t))
                             * sqrt(list_dot_product(d.t, d.t))) AS cos
                 FROM q, d WHERE d.vec_id <> q.query_id),
               tr AS (
                 SELECT query_id, neighbor_id, rank FROM (
                   SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
                   FROM tscored) WHERE rank <= 5),
               j AS (
                 SELECT b.rank AS true_rank, t.rank AS ann_rank
                 FROM brute b LEFT JOIN tr t
                   ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id),
               ks AS (SELECT unnest(generate_series(1, 5)) AS k)
               SELECT ks.k,
                      CAST(COUNT(*) AS BIGINT) AS n_true,
                      CAST(COALESCE(SUM(CASE WHEN j.ann_rank <= ks.k THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found,
                      CAST(COALESCE(SUM(CASE WHEN j.ann_rank <= ks.k THEN 1 ELSE 0 END), 0) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE) AS recall
               FROM ks, j WHERE j.true_rank <= ks.k
               GROUP BY ks.k ORDER BY ks.k""")),

    // radius search — the threshold dual of top-k ("all within ε", the
    // dedup/recall-sweep primitive). No rank window at all: broadcast
    // queries, map-side cosine filter, nothing shuffles until the final
    // determinism sort.
    Entry(
      "sim_range_search",
      (s, dir) => Similarity
        .rangeSearch(Tables(s, dir, "embeddings"), queries(s, dir), 0.2)
        .orderBy("query_id", "neighbor_id"),
      Some(s"""WITH d AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               q AS (SELECT vec_id AS query_id, e FROM d WHERE vec_id < 10),
               scored AS (
                 SELECT q.query_id, d.vec_id AS neighbor_id, $cosineSql AS cos
                 FROM q, d WHERE d.vec_id <> q.query_id)
               SELECT query_id, neighbor_id, cos FROM scored
               WHERE cos >= 0.2 ORDER BY query_id, neighbor_id""")),

    // ⊕ hybrid retrieval: BM25 lexical top-10 fused with cosine vector
    // top-10 by reciprocal-rank fusion (k=60, the standard constant) —
    // the two-tower search stack every RAG corpus runs, as one query.
    // RRF needs only RANKS, so the incommensurable scores (BM25 mass
    // vs cosine) never mix; each doc's fused score is the fixed-order
    // two-term sum 1/(60+r_text) + 1/(60+r_vec), every term an IEEE
    // division of exact small ints — deterministic on both engines,
    // ties broken by doc id. Each leg keeps its own scale shape: BM25's
    // bounded per-term postings join, brute cosine's broadcast probe
    // (swap in the IVF leg at 100 TB); fusion itself is a full-outer
    // join of two k-row-per-query relations — negligible.
    Entry(
      "sim_hybrid_search",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val emb = Tables(s, dir, "embeddings")
        // the lexical and vector legs are independent k-row-per-query
        // reductions fused only at the RRF join — materialize them from
        // parallel driver threads (guide §2.6, see core.Materialize) so the
        // BM25 postings build and the brute cosine probe overlap
        val Seq(t, v) = Materialize.all(
          graft.operators.Retrieval.bm25TopK(docs,
              docs.filter(col("doc_id") < 3)
                .select(col("doc_id").as("query_id"), col("text")), k = 10)
            .select(col("query_id"), col("doc_id"),
              col("rank").cast(LongType).as("t_rank")),
          Similarity
            .knnBrute(emb, emb.filter(col("vec_id") < 3), 10)
            .select(col("query_id"), col("neighbor_id").as("doc_id"),
              col("rank").cast(LongType).as("v_rank")))
        val fused = t.join(v, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60L) + col("t_rank")).cast(DoubleType),
              lit(0.0)) +
            coalesce(lit(1.0) / (lit(60L) + col("v_rank")).cast(DoubleType),
              lit(0.0)))
        val w = Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
        fused.withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 5)
          .select("query_id", "doc_id", "rank", "rrf")
          .orderBy("query_id", "rank")
      },
      Some("""WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                FROM documents),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              dl AS (
                SELECT doc_id,
                       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl
                FROM documents),
              stats AS (
                SELECT COUNT(*) AS n_docs,
                       CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                FROM dl),
              dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              qt AS (
                SELECT DISTINCT doc_id AS query_id, term FROM toks
                WHERE doc_id < 3),
              contrib AS (
                SELECT qt.query_id, tf.doc_id,
                       CAST(floor((((s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
                         * (tf.tf * (1.2 + 1.0))
                         / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl)))
                         * 1000000.0) AS BIGINT) AS c
                FROM tf
                  JOIN qt ON tf.term = qt.term
                  JOIN dfr ON tf.term = dfr.term
                  JOIN dl ON tf.doc_id = dl.doc_id, stats s),
              tscores AS (
                SELECT query_id, doc_id, SUM(c) AS sc
                FROM contrib GROUP BY 1, 2),
              trk AS (
                SELECT query_id, doc_id, rank FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY sc DESC, doc_id ASC) AS rank
                  FROM tscores)
                WHERE rank <= 10),
              de AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              qv AS (SELECT vec_id AS query_id, e FROM de WHERE vec_id < 3),
              vsc AS (
                SELECT qv.query_id, de.vec_id AS doc_id,
                       list_dot_product(qv.e, de.e)
                         / (sqrt(list_dot_product(qv.e, qv.e))
                            * sqrt(list_dot_product(de.e, de.e))) AS cos
                FROM qv, de WHERE de.vec_id <> qv.query_id),
              vrk AS (
                SELECT query_id, doc_id, rank FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rank
                  FROM vsc)
                WHERE rank <= 10),
              fused AS (
                SELECT COALESCE(t.query_id, v.query_id) AS query_id,
                       COALESCE(t.doc_id, v.doc_id) AS doc_id,
                       COALESCE(CAST(1.0 AS DOUBLE) / (60 + t.rank),
                                CAST(0.0 AS DOUBLE))
                         + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rank),
                                    CAST(0.0 AS DOUBLE)) AS rrf
                FROM trk t FULL OUTER JOIN vrk v
                  ON t.query_id = v.query_id AND t.doc_id = v.doc_id)
              SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, rrf
              FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
                FROM fused)
              WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ⊕ one Lloyd refinement step for the IVF codebook, exactly: assign
    // every vector to its nearest current centroid (the dedup_semantic
    // map-side argmax — no shuffle), then recompute each (cell, dim)
    // centroid coordinate as an exact micro-point mean. Updating a
    // coarse quantizer is a recurring index-maintenance job at 100 TB:
    // one scan, one (cell, dim)-keyed aggregate of ≤ k·d rows out —
    // never a second pass over raw vectors. The mean's numerator is a
    // BIGINT micro-sum (|v|≤2 ⇒ 2e6/dim-point, ×10¹² rows still
    // < 2⁶³); one emit division. Dims explode map-side (k·d bounded
    // output, corpus-sized intermediate — the same rows the scan
    // already reads).
    Entry(
      "sim_kmeans_step",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val codebook = emb.orderBy("vec_id").limit(8).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray)
        graft.operators.SemanticDedup.assignCells(emb, codebook)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("cell"), (col("pos") + 1).cast(LongType).as("dim"),
            floor(col("v").cast(DoubleType) * lit(1e6)).cast(LongType)
              .as("vm"))
          .groupBy("cell", "dim")
          .agg(count(lit(1)).as("n_members"),
            (sum(col("vm")).cast(DoubleType) /
              count(lit(1)).cast(DoubleType) / lit(1e6)).as("centroid"))
          .orderBy("cell", "dim")
      },
      Some("""WITH c AS (
                SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                         AS cell,
                       CAST(embedding AS DOUBLE[]) AS ce
                FROM (SELECT vec_id, embedding FROM embeddings
                      ORDER BY vec_id LIMIT 8)),
              v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
              sc AS (
                SELECT v.vec_id, c.cell,
                       list_dot_product(v.e, c.ce)
                         / sqrt(list_dot_product(c.ce, c.ce)) AS s
                FROM v CROSS JOIN c),
              asg AS (
                SELECT vec_id, cell FROM (
                  SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY s DESC, cell ASC) AS rn
                  FROM sc) WHERE rn = 1),
              pts AS (
                SELECT a.cell, CAST(t.i AS BIGINT) AS dim,
                       CAST(FLOOR(v.e[t.i] * 1e6) AS BIGINT) AS vm
                FROM asg a JOIN v ON a.vec_id = v.vec_id,
                     unnest(generate_series(1, len(v.e))) AS t(i))
              SELECT cell, dim, CAST(COUNT(*) AS BIGINT) AS n_members,
                     CAST(CAST(SUM(vm) AS BIGINT) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) / 1e6 AS centroid
              FROM pts GROUP BY 1, 2
              ORDER BY cell, dim""")),

    // ⊕ the FULL Lloyd training loop (k = 8 cells, 3 rounds) on the
    // exact integer micro-grid — the codebook-TRAINING completion of
    // sim_kmeans_step's single refinement. Coordinates shift positive
    // (vm = floor(x·1e6) + 2e6) so every distance, argmin tie-break,
    // and floor-mean is exact integer arithmetic Spark's DIV and
    // DuckDB's // agree on; the oracle UNROLLS ALL THREE ROUNDS
    // (assign → argmin → recompute per CTE block), so one hash
    // certifies the whole trajectory, not one step. Scale: per round
    // the k·d-long codebook (512 values — bounded readout) re-enters
    // as literals and assignment is pure map-side (assignCells' shape,
    // zero shuffle); cost is R corpus scans + R (cell,dim) aggregates
    // with k·d rows out. See Similarity.kmeansTrainMicro.
    Entry(
      "sim_kmeans_train",
      (s, dir) => Similarity
        .kmeansTrainMicro(Tables(s, dir, "embeddings"), 8, 3)
        .orderBy("cell", "dim"),
      Some(kmeansReplaySql(8, 3, 2000000L))),

    // ⊕ the trained index SERVING queries — train → index → serve
    // gated as one chain: the 3-round trained codebook assigns the
    // whole corpus (map-side exact integer argmin, the codebook enters
    // as 512 literals), queries probe their OWN cell, exact cosine
    // ranks within it. One hash certifies that training, assignment,
    // and the pruned search all agree with a full SQL replay — the
    // recall/latency story the separate sim_recall_report audit then
    // quantifies. At 100 TB: corpus written partitionBy("cell") makes
    // the per-query read one cell's partition; nothing here scales
    // with corpus × queries.
    Entry(
      "sim_knn_ivf_trained",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val codebook = Similarity.readCodebookMicro(
          Similarity.kmeansTrainMicro(emb, 8, 3))
        val assigned = Similarity.assignCellsMicro(
          emb.select("vec_id", "embedding"), codebook)
        Similarity.knnAssignedCell(
          assigned, assigned.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(kmeansServeSql(8, 3, 2000000L, 5))),

    // ⊕ incremental index maintenance — the loop BETWEEN retrains: three
    // ingest batches (vec_id mod 3) fold per-(cell, dim) coordinate
    // sums and counts against the FROZEN 2-round codebook, and the
    // served centroids are floor-means of the merged state. The oracle
    // computes the ONE-SHOT assign-and-aggregate over the whole corpus,
    // so the hash proves the batch fold is exactly additive (assignment
    // is codebook-only, moments are sums) — the sim_kmeans_train /
    // dedup_*_incremental discipline applied to the ANN index. Per
    // batch: map-side assignment + one (cell,dim) aggregate + a
    // k·d-row state merge; state never exceeds k·d longs.
    Entry(
      "sim_kmeans_incremental",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val codebook = Similarity.readCodebookMicro(
          Similarity.kmeansTrainMicro(emb, 8, 2))
        val batches = (0L until 3L).map(b =>
          emb.filter(col("vec_id") % 3 === b).select("vec_id", "embedding"))
        Similarity.kmeansFoldBatches(batches, codebook)
          .orderBy("cell", "dim")
      },
      Some(kmeansOneShotFoldSql)),

    // ⊕ the ANN index maintained by the STREAMING MV loop: the same
    // frozen-codebook fold as sim_kmeans_incremental, but driven
    // through StreamingMv's versioned exactly-once state — per
    // micro-batch the assigned coordinates fold into the persisted
    // (cell, dim) summary, the corpus partition lands beside it, and
    // the served codebook is a PLAIN aggregate over the corpus that
    // SummaryRewrite reroutes onto the stream-maintained summary
    // (PlanSpec pins the summary-only scan; re-delivery idempotence is
    // the shared StreamingIvm protocol the cdc_mv_streamed family
    // already exercises). The oracle is the ONE-SHOT
    // assign-and-aggregate, so one hash proves stream-fold ≡ batch
    // fold ≡ recompute for the index-maintenance loop itself. At
    // 100 TB: per batch cost ∝ batch × d + |Δ cells|; the codebook
    // readout reads k·d summary rows — the embedding corpus is scanned
    // by nobody.
    Entry(
      "sim_kmeans_streamed",
      (s, dir) => {
        val state = Scratch.entryDir("skms", dir)
        val emb = Tables(s, dir, "embeddings")
        val codebook = Similarity.readCodebookMicro(
          Similarity.kmeansTrainMicro(emb, 8, 2))
        // materialized ONCE (r19): each of the 3 folds below filters
        // this relation, and left lazy every fold re-ran the full
        // assign+explode from the embedding scan. A real stream
        // receives each batch exactly once — the materialization
        // simulates that arrival instead of re-deriving the whole input
        // per micro-batch.
        val pts = Materialize(Similarity
          .assignCellsMicro(emb.select("vec_id", "embedding"), codebook)
          .select(col("vec_id"), col("cell"), posexplode(
            expr("""transform(embedding,
                      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
                           + 2000000L)""")).as(Seq("pos", "v_micro")))
          .select(col("vec_id"), col("cell"),
            (col("pos") + 1).cast(LongType).as("dim"), col("v_micro")))
        val cfg = graft.streaming.StreamingMv.Config(Seq("cell", "dim"))
        (0L until 3L).foreach { b =>
          graft.streaming.StreamingMv.foldBatch(s, state, cfg)(
            pts.filter(col("vec_id") % 3 === b).drop("vec_id"), b)
        }
        graft.streaming.StreamingMv.dashboard(s, state, cfg)
          .select(col("cell"), col("dim"),
            col("cnt").cast(LongType).as("n_members"),
            (expr("sum_micro DIV cnt") - lit(2000000L)).cast(LongType)
              .as("centroid_micro"))
          .orderBy("cell", "dim")
      },
      Some(kmeansOneShotFoldSql)),

    // ⊕ product quantization ADC top-k (IVF-PQ's compression half):
    // encode every vector as m=8 codewords (8 subspaces × 32 codes from
    // the deterministic vec_id<32 sample codebook), then answer
    // max-inner-product queries from the CODES alone via a per-query
    // lookup table — 256-byte vectors become 8-byte codes, so the 100 TB
    // ADC scan reads 32× less and never touches a float again. The LUT
    // entries are BIGINT micro-points ⇒ the ADC score is an exact
    // order-insensitive integer sum; the whole encode→LUT→ADC pipeline
    // (the REAL lossy path, not an exact-end reduction) is deterministic
    // on both engines and oracle-checked end-to-end.
    Entry(
      "sim_knn_pq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val sub = Pq.subvectors(emb, "vec_id", "embedding", 8, 8)
        val cb = Pq.sampleCodebook(emb, 32, 8, 8)
        val enc = Pq.encode(sub, cb)
        val qsub = sub.filter(col("vec_id") < 10)
          .withColumnRenamed("vec_id", "query_id")
        Pq.adcTopK(enc, qsub, cb, 5).orderBy("query_id", "rank")
      },
      Some(s"""$pqPrefixSql,
               lut AS (
                 SELECT q.vec_id AS query_id, cb.s, cb.cid,
                        CAST(floor(list_dot_product(q.v, cb.c) * 1000000.0)
                          AS BIGINT) AS lu
                 FROM sub q JOIN cb ON cb.s = q.s WHERE q.vec_id < 10),
               scored AS (
                 SELECT l.query_id, e.vec_id AS neighbor_id,
                        CAST(SUM(l.lu) AS BIGINT) AS mu
                 FROM enc e JOIN lut l ON l.s = e.s AND l.cid = e.code
                 WHERE e.vec_id <> l.query_id
                 GROUP BY 1, 2),
               r AS (
                 SELECT query_id, neighbor_id, mu,
                        ROW_NUMBER() OVER (
                          PARTITION BY query_id
                          ORDER BY mu DESC, neighbor_id ASC) AS rank
                 FROM scored)
               SELECT query_id, neighbor_id, rank,
                      CAST(mu AS DOUBLE)/1000000.0 AS adc_dot
               FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ⊕ the composed IVF-PQ read path: cell-prune (each query probes
    // only its own `label` cell, as sim_knn_ivf) THEN ADC-score from
    // codes — at 100 TB the codes table is partitionBy(cell) on disk,
    // so this plan is partition pruning into a 32×-compressed scan:
    // the two pruning instruments multiply.
    Entry(
      "sim_knn_ivfpq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val sub = Pq.subvectors(emb, "vec_id", "embedding", 8, 8,
          carry = Seq("label"))
        val cb = Pq.sampleCodebook(emb, 32, 8, 8)
        val enc = Pq.encode(sub, cb, carry = Seq("label"))
        val qsub = sub.filter(col("vec_id") < 10)
          .withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "q_label")
        Pq.adcTopK(enc, qsub, cb, 5, cell = Some(("label", "q_label")))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH d AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
               sub AS (
                 SELECT vec_id, label, CAST(t.range AS INTEGER) AS s,
                        list_slice(e, t.range*8+1, t.range*8+8) AS v
                 FROM d, range(0,8) t),
               cb AS (
                 SELECT vec_id AS cid, s, v AS c, list_dot_product(v, v) AS cn2
                 FROM sub WHERE vec_id < 32),
               enc0 AS (
                 SELECT sub.vec_id, sub.label, sub.s, cb.cid,
                        ROW_NUMBER() OVER (
                          PARTITION BY sub.vec_id, sub.s
                          ORDER BY (list_dot_product(sub.v, cb.c) - cb.cn2/2)
                            DESC, cb.cid ASC) AS rn
                 FROM sub JOIN cb ON cb.s = sub.s),
               enc AS (SELECT vec_id, label, s, cid AS code FROM enc0
                       WHERE rn = 1),
               lut AS (
                 SELECT q.vec_id AS query_id, q.label AS q_label, cb.s, cb.cid,
                        CAST(floor(list_dot_product(q.v, cb.c) * 1000000.0)
                          AS BIGINT) AS lu
                 FROM sub q JOIN cb ON cb.s = q.s WHERE q.vec_id < 10),
               scored AS (
                 SELECT l.query_id, e.vec_id AS neighbor_id,
                        CAST(SUM(l.lu) AS BIGINT) AS mu
                 FROM enc e JOIN lut l
                   ON l.s = e.s AND l.cid = e.code AND l.q_label = e.label
                 WHERE e.vec_id <> l.query_id
                 GROUP BY 1, 2),
               r AS (
                 SELECT query_id, neighbor_id, mu,
                        ROW_NUMBER() OVER (
                          PARTITION BY query_id
                          ORDER BY mu DESC, neighbor_id ASC) AS rank
                 FROM scored)
               SELECT query_id, neighbor_id, rank,
                      CAST(mu AS DOUBLE)/1000000.0 AS adc_dot
               FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ⊕ SQ8 scalar-quantization distortion audit (the 4× compression
    // cousin of PQ): per-dim byte grid on corpus [min,max],
    // midpoint reconstruction, exact micro-squared-error means.
    Entry(
      "sim_sq8_distortion",
      (s, dir) => Pq
        .sq8DistortionReport(Tables(s, dir, "embeddings"))
        .orderBy("dim"),
      Some(s"""WITH d AS (
                 SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               v AS (
                 SELECT CAST(t.range AS INTEGER) AS dim, e[t.range+1] AS x
                 FROM d, range(0,64) t
                 WHERE e[t.range+1] IS NOT NULL
                   AND NOT isnan(e[t.range+1])),
               st AS (
                 SELECT dim, MIN(x) AS vmin, MAX(x) AS vmax FROM v GROUP BY 1),
               q AS (
                 SELECT v.dim, v.x, st.vmin, st.vmax,
                        CASE WHEN st.vmax = st.vmin THEN 0
                          ELSE LEAST(255, CAST(FLOOR((v.x - st.vmin) * 256.0
                            / (st.vmax - st.vmin)) AS BIGINT))
                        END AS code
                 FROM v JOIN st ON st.dim = v.dim),
               r AS (
                 SELECT dim, vmin, vmax,
                        x - (vmin + (CAST(code AS DOUBLE) + 0.5)
                          * (vmax - vmin) / 256.0) AS diff
                 FROM q),
               m AS (
                 SELECT dim, vmin, vmax,
                        CAST(FLOOR(diff * diff * 1e12) AS BIGINT) AS me2
                 FROM r)
               SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_values,
                      MIN(vmin) AS vmin, MIN(vmax) AS vmax,
                      ${Exact.bigSqlToDouble("SUM(me2)")} / 1e12
                        / CAST(COUNT(*) AS DOUBLE) AS mse
               FROM m GROUP BY dim ORDER BY dim""")),

    // ⊕ exact embedding covariance matrix (d² = 4096 rows out of one
    // corpus pass): the statistics object behind whitening, PCA/OPQ
    // rotations, and embedding-drift checks between corpus snapshots.
    // Map-side d²-way micro-product fan-out into a bounded hash
    // partial aggregate; per-dim mean sums broadcast-join on; one
    // rule-6 emit division. Built-in covar_pop is a partitioning-
    // dependent double recurrence — the a22 argument, ×4096 cells.
    Entry(
      "sim_embed_covariance",
      (s, dir) => Similarity
        .embedCovariance(Tables(s, dir, "embeddings"))
        .orderBy("i", "j"),
      Some(s"""WITH d AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               pm AS (
                 SELECT CAST(a.range AS INTEGER) AS i,
                        CAST(b.range AS INTEGER) AS j,
                        CAST(COUNT(*) AS BIGINT) AS n,
                        SUM(CAST(CAST(FLOOR(e[a.range+1] * 1e6) AS BIGINT)
                              AS HUGEINT)
                            * CAST(FLOOR(e[b.range+1] * 1e6) AS BIGINT)) AS sp
                 FROM d, range(0,64) a, range(0,64) b
                 GROUP BY 1, 2),
               dm AS (
                 SELECT CAST(a.range AS INTEGER) AS i,
                        CAST(SUM(CAST(FLOOR(e[a.range+1] * 1e6) AS BIGINT))
                          AS BIGINT) AS sx
                 FROM d, range(0,64) a GROUP BY 1),
               c AS (
                 SELECT pm.i, pm.j, pm.n,
                        CAST(pm.n AS HUGEINT) * pm.sp
                          - CAST(di.sx AS HUGEINT) * dj.sx AS numv,
                        CAST(pm.n AS HUGEINT) * pm.n AS n2
                 FROM pm JOIN dm di ON di.i = pm.i JOIN dm dj ON dj.i = pm.j)
               SELECT i, j, n,
                      ${Exact.bigSqlToDouble("numv")} /
                        ${Exact.bigSqlToDouble("n2")} / 1e12 AS cov
               FROM c ORDER BY i, j""")),

    // ⊕ leading principal component by power iteration over the EXACT
    // integer covariance (3 rounds, ∞-norm normalization — every value
    // an exact integer, so the unrolled oracle is hash-exact; the same
    // fixed-point discipline as PageRank). One corpus pass builds the
    // d² matrix; each round is a d²×d mat-vec with the vector broadcast
    // — iteration cost is dimension-sized, never corpus-sized. The
    // direction behind whitening/OPQ rotations and drift monitoring.
    Entry(
      "sim_pca_power",
      (s, dir) => Similarity
        .pcaPower(Tables(s, dir, "embeddings"), rounds = 3)
        .orderBy("i"),
      Some {
        val rounds = (1 to 3).map { r =>
          s"""u$r AS (
                 SELECT c.i, SUM(c.c * v.x) AS u
                 FROM c JOIN v${r - 1} v ON v.j = c.j
                 GROUP BY 1),
               v$r AS (
                 SELECT i AS j,
                        (CASE WHEN u < 0 THEN -1 ELSE 1 END)
                          * ((abs(u) * 1000000)
                             // (SELECT MAX(abs(u)) FROM u$r)) AS x
                 FROM u$r)"""
        }.mkString(",\n               ")
        s"""WITH d AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               pm AS (
                 SELECT CAST(a.range AS INTEGER) AS i,
                        CAST(b.range AS INTEGER) AS j,
                        CAST(COUNT(*) AS BIGINT) AS n,
                        SUM(CAST(CAST(FLOOR(e[a.range+1] * 1e6) AS BIGINT)
                              AS HUGEINT)
                            * CAST(FLOOR(e[b.range+1] * 1e6) AS BIGINT)) AS sp
                 FROM d, range(0,64) a, range(0,64) b
                 GROUP BY 1, 2),
               dm AS (
                 SELECT CAST(a.range AS INTEGER) AS i,
                        CAST(SUM(CAST(FLOOR(e[a.range+1] * 1e6) AS BIGINT))
                          AS BIGINT) AS sx
                 FROM d, range(0,64) a GROUP BY 1),
               cm AS (
                 SELECT pm.i, pm.j,
                        CAST(pm.n AS HUGEINT) * pm.sp
                          - CAST(di.sx AS HUGEINT) * dj.sx AS numv,
                        CAST(pm.n AS HUGEINT) * pm.n AS n2
                 FROM pm JOIN dm di ON di.i = pm.i JOIN dm dj ON dj.i = pm.j),
               c AS (
                 SELECT i, j,
                        (CASE WHEN numv < 0 THEN -1 ELSE 1 END)
                          * (abs(numv) // n2) AS c
                 FROM cm),
               v0 AS (
                 SELECT CAST(range AS INTEGER) AS j,
                        CAST(1000000 AS HUGEINT) AS x
                 FROM range(0, 64)),
               $rounds
               SELECT j AS i, CAST(x AS BIGINT) AS v
               FROM v3 ORDER BY i"""
      }),

    // ⊕ two-stage PQ serving: ADC top-20 shortlist from codes, exact
    // re-rank of only those floats to top-5 — the production read
    // pattern (codes prune the corpus; floats are touched for R·|q|
    // rows only). Recall@k provably dominates single-stage ADC top-k:
    // any true neighbor the shortlist catches can only move up under
    // exact ranking.
    Entry(
      "sim_knn_pq_rerank",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val sub = Pq.subvectors(emb, "vec_id", "embedding", 8, 8)
        val cb = Pq.sampleCodebook(emb, 32, 8, 8)
        val enc = Pq.encode(sub, cb)
        val qsub = sub.filter(col("vec_id") < 10)
          .withColumnRenamed("vec_id", "query_id")
        val shortlist = Pq.adcTopK(enc, qsub, cb, 20)
        Pq.rerankExact(shortlist, emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""$pqPrefixSql,
               lut AS (
                 SELECT q.vec_id AS query_id, cb.s, cb.cid,
                        CAST(floor(list_dot_product(q.v, cb.c) * 1000000.0)
                          AS BIGINT) AS lu
                 FROM sub q JOIN cb ON cb.s = q.s WHERE q.vec_id < 10),
               scored AS (
                 SELECT l.query_id, e.vec_id AS neighbor_id,
                        CAST(SUM(l.lu) AS BIGINT) AS mu
                 FROM enc e JOIN lut l ON l.s = e.s AND l.cid = e.code
                 WHERE e.vec_id <> l.query_id
                 GROUP BY 1, 2),
               r AS (
                 SELECT query_id, neighbor_id, mu,
                        ROW_NUMBER() OVER (
                          PARTITION BY query_id
                          ORDER BY mu DESC, neighbor_id ASC) AS rank
                 FROM scored),
               cand AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 20),
               ex AS (
                 SELECT c.query_id, c.neighbor_id,
                        list_dot_product(qd.e, nd.e) AS dot
                 FROM cand c
                   JOIN d qd ON qd.vec_id = c.query_id
                   JOIN d nd ON nd.vec_id = c.neighbor_id),
               rr AS (
                 SELECT query_id, neighbor_id, dot,
                        ROW_NUMBER() OVER (
                          PARTITION BY query_id
                          ORDER BY dot DESC, neighbor_id ASC) AS rank
                 FROM ex)
               SELECT query_id, neighbor_id, rank, dot
               FROM rr WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ⊕ PQ distortion audit — mean ‖v − c_code‖² per subspace, the
    // number a PQ deployment publishes next to its codebook (distortion
    // is the recall budget ADC spends). One corpus scan, m rows out.
    Entry(
      "sim_pq_distortion",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val sub = Pq.subvectors(emb, "vec_id", "embedding", 8, 8)
        val cb = Pq.sampleCodebook(emb, 32, 8, 8)
        Pq.distortionReport(sub, cb).orderBy("s")
      },
      Some(s"""WITH d AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
               sub AS (
                 SELECT vec_id, CAST(t.range AS INTEGER) AS s,
                        list_slice(e, t.range*8+1, t.range*8+8) AS v
                 FROM d, range(0,8) t),
               cb AS (
                 SELECT vec_id AS cid, s, v AS c, list_dot_product(v, v) AS cn2
                 FROM sub WHERE vec_id < 32),
               enc0 AS (
                 SELECT sub.vec_id, sub.s,
                        CAST(floor((list_dot_product(sub.v, sub.v)
                          - 2*list_dot_product(sub.v, cb.c) + cb.cn2)
                          * 1000000.0) AS BIGINT) AS md2,
                        ROW_NUMBER() OVER (
                          PARTITION BY sub.vec_id, sub.s
                          ORDER BY (list_dot_product(sub.v, cb.c) - cb.cn2/2)
                            DESC, cb.cid ASC) AS rn
                 FROM sub JOIN cb ON cb.s = sub.s),
               best AS (SELECT vec_id, s, md2 FROM enc0 WHERE rn = 1)
               SELECT s, CAST(COUNT(*) AS BIGINT) AS n_vectors,
                      CAST(CAST(SUM(md2) AS BIGINT) AS DOUBLE)/1000000.0
                        /CAST(COUNT(*) AS DOUBLE) AS mse
               FROM best GROUP BY s ORDER BY s"""))
  )

  /** Shared oracle prelude for the PQ entries: subvector relation,
    * vec_id<32 sample codebook, and the argmax-assigned codes —
    * mirrors [[Pq.subvectors]]/[[Pq.sampleCodebook]]/[[Pq.encode]]
    * expression for expression. */
  private def pqPrefixSql: String =
    """WITH d AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       sub AS (
         SELECT vec_id, CAST(t.range AS INTEGER) AS s,
                list_slice(e, t.range*8+1, t.range*8+8) AS v
         FROM d, range(0,8) t),
       cb AS (
         SELECT vec_id AS cid, s, v AS c, list_dot_product(v, v) AS cn2
         FROM sub WHERE vec_id < 32),
       enc0 AS (
         SELECT sub.vec_id, sub.s, cb.cid,
                ROW_NUMBER() OVER (
                  PARTITION BY sub.vec_id, sub.s
                  ORDER BY (list_dot_product(sub.v, cb.c) - cb.cn2/2) DESC,
                           cb.cid ASC) AS rn
         FROM sub JOIN cb ON cb.s = sub.s),
       enc AS (SELECT vec_id, s, cid AS code FROM enc0 WHERE rn = 1)"""
}
