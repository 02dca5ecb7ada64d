package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Vector similarity semantics: the custom vec_dot expression + kNN. */
class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private lazy val vectors = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.0f, 1.0f, 0.0f), 0),
    (2L, Array(1.0f, 1.0f, 0.0f), 0),
    (3L, Array(-1.0f, 0.0f, 0.0f), 1),
    (4L, Array(0.9f, 0.1f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("vec_dot matches hand computation (interpreted and codegen paths)") {
    val r = vectors.filter($"vec_id" === 2)
      .select(VectorFunctions.vecDot($"embedding", $"embedding")).head().getDouble(0)
    assert(r === 2.0)
    // SQL route through the registered function
    vectors.createOrReplaceTempView("v")
    val viaSql = spark.sql(
      "SELECT vec_dot(embedding, embedding) FROM v WHERE vec_id = 2").head().getDouble(0)
    assert(viaSql === 2.0)
  }

  test("optimizer rewrites self-dot to FloatVecNorm2; values bit-identical") {
    // vec_dot(x, x) must leave the optimizer as the unary norm — one
    // child evaluation instead of two (VecSelfDotRewrite). A parquet
    // scan keeps the projection alive (a local Seq relation is folded
    // into a LocalRelation before the plan can be inspected)
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val df = emb.select(
      VectorFunctions.vecNorm2($"embedding").as("n2"),
      VectorFunctions.vecDot($"embedding", $"embedding").as("dd"))
    val optimized = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(optimized.contains("floatvecnorm2"), optimized)
    assert(!optimized.contains("floatvecdot"), optimized)
    // a GENUINE two-argument dot must NOT be rewritten
    val mixed = emb.as("a").crossJoin(emb.as("b"))
      .select(VectorFunctions.vecDot($"a.embedding", $"b.embedding").as("d"))
    assert(mixed.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("floatvecdot"))
    // rewrite preserves every value bit for bit
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine: identical → 1, orthogonal → 0, opposite → -1") {
    val cos = vectors.as("a").crossJoin(vectors.as("b"))
      .select($"a.vec_id".as("x"), $"b.vec_id".as("y"),
        VectorFunctions.cosine($"a.embedding", $"b.embedding").as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(cos((0L, 0L)) - 1.0) < 1e-12)
    assert(cos((0L, 1L)) === 0.0)
    assert(cos((0L, 3L)) === -1.0)
  }

  test("knnBrute ranks by cosine desc, excludes self") {
    val knn = Similarity.knnBrute(vectors, vectors.filter($"vec_id" === 0), 2)
      .orderBy("rank").collect()
    assert(knn.length === 2)
    assert(knn(0).getAs[Long]("neighbor_id") === 4L) // cos ≈ 0.994
    assert(knn(1).getAs[Long]("neighbor_id") === 2L) // cos ≈ 0.707
    assert(!knn.exists(_.getAs[Long]("neighbor_id") == 0L))
  }

  test("hardNegatives: only other-label candidates, ranked by cosine desc") {
    // anchor 0 (label 0): candidates are 3 and 4 (label 1) only —
    // same-label 1, 2 and the anchor itself are excluded by the
    // label-mismatch condition
    val hn = Similarity.hardNegatives(vectors,
        vectors.filter($"vec_id" === 0), 2)
      .orderBy("rank").collect()
    assert(hn.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(4L, 3L),
      hn.mkString(", ")) // cos ≈ 0.994 before cos = -1
    assert(hn.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2))
    // the hardest negative ranks ABOVE the same-label knn pick 2:
    // exactly the near-miss a contrastive trainer wants surfaced
    assert(hn(0).getAs[Double]("cos") > 0.99)
    // and an anchor of the other class mines only label-0 vectors
    val hn3 = Similarity.hardNegatives(vectors,
        vectors.filter($"vec_id" === 3), 5)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(hn3 === Set(0L, 1L, 2L))
  }

  test("knnIvf only searches the query's own cell") {
    val knn = Similarity.knnIvf(vectors, vectors.filter($"vec_id" === 0), 5)
      .collect()
    val neighbors = knn.map(_.getAs[Long]("neighbor_id")).toSet
    assert(neighbors === Set(1L, 2L)) // label 0 only, self excluded
  }

  test("cosinePairs returns symmetric-unique pairs above threshold") {
    val pairs = Similarity.cosinePairs(vectors, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L)))
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("sign-LSH pairs match brute force exactly at a high threshold") {
    // 60 seeded random 16-dim vectors + 6 planted near-duplicates
    // (original + small perturbation → cos ≈ 0.99). Deterministic seed →
    // deterministic hyperplane buckets → stable test.
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val dups = base.take(6).map { case (i, v) =>
      (100L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")

    val brute = Similarity.cosinePairs(emb, 0.9)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineLshPairs(emb, 0.9, dim)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must plant high-cosine pairs")
    assert(lsh === brute) // exact precision + recall at cos ≥ 0.9 with 16×2 bands
  }

  test("sign-LSH candidate generation prunes the pair space") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val emb = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    // random gaussian vectors: cos concentrates near 0 → few shared buckets
    val nCand = Similarity.cosineLshPairs(emb, -1.0, dim).count() // keep all verified candidates
    val nAll = 200L * 199 / 2
    assert(nCand < nAll / 2, s"LSH should prune: $nCand of $nAll pairs")
  }

  test("quantizer: deterministic cells that partition the corpus; IVF probes shrink the scan") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (assigned, centroids) = graft.operators.Quantizer.trainAndAssign(emb, k = 4)
    assert(centroids.length === 4)
    // every vector gets exactly one cell in [0, 4)
    assert(assigned.count() === emb.count())
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(cells.forall(c => c >= 0 && c < 4))
    // deterministic across runs (fixed seed)
    val (again, _) = graft.operators.Quantizer.trainAndAssign(emb, k = 4)
    assert(assigned.select("vec_id", "cell").except(
      again.select("vec_id", "cell")).isEmpty)
    // a one-cell probe reads a strict subset of the corpus
    val firstCell = assigned.filter(col("cell") === cells.head).count()
    assert(firstCell > 0 && firstCell < emb.count())
  }

  test("cell-partitioned IVF layout turns probes into partition-pruned scans") {
    // the 100 TB contract behind knnIvf/knnIvfMultiProbe: store the
    // assigned corpus partitionBy("cell") and a probe's cell filter
    // becomes PartitionFilters at the scan — only probed cells are read
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (assigned, _) = graft.operators.Quantizer.trainAndAssign(emb, k = 4)
    val dir = tmpDir("ivf-cells")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val probe = onDisk.filter(col("cell") === 2)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"), plan)
    // the cell predicate prunes at the partition level, so it never
    // appears as a data filter over row contents
    assert(!plan.contains("PushedFilters: [IsNotNull(cell"), plan)
    // pruning is real: the probe reads strictly fewer files than the table
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().map(_.metrics
        .get("numFiles").map(_.value).getOrElse(0L)).sum
    }
    val probedFiles = filesRead(spark.read.parquet(dir).filter(col("cell") === 2))
    val allFiles = filesRead(spark.read.parquet(dir))
    assert(probedFiles > 0 && probedFiles < allFiles,
      s"probe read $probedFiles of $allFiles files — no pruning happened")
  }

  test("multi-probe IVF: recall grows with probes; probing every cell equals brute force") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (assigned, centroids) = graft.operators.Quantizer.trainAndAssign(emb, k = 4)
    val queries = emb.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

    val brute = hits(Similarity.knnBrute(emb, queries, 5))
    val p1 = hits(Similarity.knnIvfMultiProbe(assigned, queries, centroids, 5, nProbe = 1))
    val p2 = hits(Similarity.knnIvfMultiProbe(assigned, queries, centroids, 5, nProbe = 2))
    val pAll = hits(Similarity.knnIvfMultiProbe(assigned, queries, centroids, 5, nProbe = 4))

    // monotone recall dial: more probes never lose true neighbors
    assert((p1 intersect brute).size <= (p2 intersect brute).size)
    // probing every cell = scanning everything = exact
    assert(pAll === brute)
    // one-probe really prunes (fewer candidates than full top-k coverage)
    assert(p1.size <= brute.size)
  }

  test("kNN graph with a full probe list equals brute force with the corpus as queries") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (assigned, centroids) = graft.operators.Quantizer.trainAndAssign(emb, k = 4)
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
      .toSet
    val graph = edges(Similarity.knnGraph(assigned, centroids, k = 3, nProbe = 4))
    val brute = edges(Similarity.knnBrute(emb, emb, 3))
    assert(graph === brute)
    // partial probing prunes but never invents edges outside the corpus
    val g1 = edges(Similarity.knnGraph(assigned, centroids, k = 3, nProbe = 1))
    assert(g1.size <= graph.size)
    assert(g1.map(_._1).subsetOf(graph.map(_._1)))
  }

  test("recallReport: the published audit is monotone in nProbe and exact against itself") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (assigned, centroids) = graft.operators.Quantizer.trainAndAssign(emb, k = 4)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.knnBrute(emb, queries, 5)
    def recallAt5(nProbe: Int): Double = Similarity
      .recallReport(
        Similarity.knnIvfMultiProbe(assigned, queries, centroids, 5, nProbe),
        brute, maxK = 5)
      .filter(col("k") === 5).select("recall").head().getDouble(0)
    // the KMeans-cell probe sweep — the non-SQL-expressible twin of the
    // gated sim_recall_report row — is monotone and hits 1.0 at all cells
    val sweep = (1 to 4).map(recallAt5)
    assert(sweep.zip(sweep.tail).forall { case (lo, hi) => lo <= hi }, sweep)
    assert(sweep.last === 1.0, sweep)
    // an index audited against itself reports perfect recall at every k
    val self = Similarity.recallReport(brute, brute, maxK = 5)
      .select("recall").collect().map(_.getDouble(0)).toSeq
    assert(self === Seq.fill(5)(1.0))
    // and each k's truth set is exactly |queries| · k pairs
    val nTrue = Similarity.recallReport(brute, brute, maxK = 5)
      .select("k", "n_true").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nq = queries.count()
    assert((1L to 5L).forall(k => nTrue(k) === nq * k), nTrue)
  }

  test("gated brute-cosine slice ≡ full-table brute restricted to the sample") {
    // the dedup_embed_cosine gate runs over a deterministic 4/16 md5
    // sample (bench-cost bound on the O(n²) baseline); prove the
    // sampling is ONLY a row restriction — the full-table brute result,
    // filtered to pairs whose BOTH endpoints are in the sample, is
    // byte-identical to the sampled run.
    val sfDir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables(spark, sfDir, "embeddings")
    val sampled = graft.queries.Inventory.byName("dedup_embed_cosine")
      .run(spark, sfDir)
    val keptIds = graft.operators.Curation
      .hashSample(emb, "vec_id", "cosb", rate16 = 4)
      .select($"vec_id").as[Long].collect().toSet
    val full = Similarity.cosinePairs(emb, 0.4)
      .filter($"vec_a".isin(keptIds.toSeq: _*) &&
              $"vec_b".isin(keptIds.toSeq: _*))
      .orderBy("vec_a", "vec_b")
    assert(sampled.exceptAll(full).isEmpty && full.exceptAll(sampled).isEmpty)
  }

  test("vec_dot fails loudly on mismatched vector lengths") {
    val ragged = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("id", "a", "b")
    val e = intercept[Exception] {
      ragged.select(VectorFunctions.vecDot($"a", $"b")).collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(e).getMessage.contains("length mismatch"))
  }

  test("vec_dot null-propagates a NULL array element (review r18): " +
       "DuckDB's list_dot_product parity, never a silent 0.0 read") {
    val withNull = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f),
        Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f, 3.0f),
        Array[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("id", "a", "b")
    val rows = withNull
      .select($"id", VectorFunctions.vecDot($"a", $"b").as("d"),
        VectorFunctions.vecNorm2($"a").as("n2"))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(1), "dot over a null element must be NULL")
    assert(rows(0).isNullAt(2), "norm2 over a null element must be NULL")
    assert(rows(1).getDouble(1) === 14.0)
    assert(rows(1).getDouble(2) === 14.0)
  }

  test("randomProject: column pipeline ≡ driver-side sign matrix, exact and map-side") {
    val t = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(-0.5f, 0.25f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(t, 2, 4, "s")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent recompute: µ(x) = ⌊x·1e4⌋, signs from the public matrix
    val signs = Similarity.jlSignMatrix("s", 2, 4)
    def proj(xs: Array[Float]): Seq[Long] =
      (0 until 4).map(j => xs.zipWithIndex.map { case (x, i) =>
        math.floor(x.toDouble * 10000.0).toLong * signs(j)(i)
      }.sum)
    assert(got(1L) === proj(Array(1.0f, 2.0f)))
    assert(got(2L) === proj(Array(-0.5f, 0.25f)))
    // signs are genuinely ±1 and deterministic across calls
    assert(signs.flatten.forall(s => s == 1 || s == -1))
    assert(Similarity.jlSignMatrix("s", 2, 4).map(_.toSeq).toSeq ==
      signs.map(_.toSeq).toSeq)
    // map-side: no Exchange in the projection plan
    val plan = Similarity.randomProject(t, 2, 4, "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("randomProject fails loudly on a ragged embedding") {
    val ragged = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.randomProject(ragged, 2, 4, "s").collect())
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(e).getMessage.contains("expected dim 2"), root(e).getMessage)
  }

  test("knnJlRerank: full candidate width equals brute; narrower widths nest recall") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = hits(Similarity.knnBrute(emb, queries, 5))
    val n = emb.count().toInt
    // m = corpus ⇒ the candidate pass keeps everything ⇒ provably brute
    assert(hits(Similarity.knnJlRerank(emb, queries, 64, 16, "graft", n, 5)) === brute)
    // the recall dial: candidate sets nest (same priority order,
    // longer prefix), so true-neighbor hits are monotone in m
    val r50 = hits(Similarity.knnJlRerank(emb, queries, 64, 16, "graft", 50, 5))
    val r200 = hits(Similarity.knnJlRerank(emb, queries, 64, 16, "graft", 200, 5))
    assert((r50 intersect brute).size <= (r200 intersect brute).size)
    // informative at m = n/10 even on this synthetic corpus — near-
    // isotropic unit vectors, a sketch's WORST case (real embedding
    // clouds have low intrinsic dimension and sketch far better):
    // measured 0.50 at 64→16 vs the 10% a blind filter would keep
    assert((r50 intersect brute).size.toDouble / brute.size > 0.4,
      s"recall@m=50 = ${(r50 intersect brute).size.toDouble / brute.size}")
  }

  test("refine contract: an exact tie goes to the lower neighbor_id, a query never returns itself") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import graft.operators.{ProductQuantizer => Pq}
    // query 1 is also a corpus row (cos 1 with itself, so it must be
    // excluded); the twins 4 and 2 share one embedding — an exact tie,
    // listed higher id first — and both beat the distractor 3
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (4L, Array(2.0f, 1.0f)),
      (3L, Array(0.0f, 1.0f)), (2L, Array(2.0f, 1.0f))
    ).toDF("vec_id", "embedding")
      .withColumn("label", lit(0)).withColumn("cell", lit(0))
    val queries = corpus.filter($"vec_id" === 1L)
    val relabeled = corpus.withColumn("label", when($"vec_id" === 1L, 0).otherwise(1))
    val centroids = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val shortlist = Seq((1L, 4L), (1L, 3L), (1L, 2L), (1L, 4L))
      .toDF("query_id", "neighbor_id")
    val sub = Pq.subvectors(corpus, "vec_id", "embedding", 1, 2)
    val cb = Pq.sampleCodebook(corpus, 5, 1, 2)
    val qsub = sub.filter($"vec_id" === 1L).withColumnRenamed("vec_id", "query_id")
    val variants = Seq(
      "knnBrute" -> Similarity.knnBrute(corpus, queries, 1),
      "knnIvf" -> Similarity.knnIvf(corpus, queries, 1),
      "hardNegatives" ->
        Similarity.hardNegatives(relabeled, relabeled.filter($"vec_id" === 1L), 1),
      "knnAssignedCell" -> Similarity.knnAssignedCell(corpus, queries, 1),
      "knnIvfMultiProbe" ->
        Similarity.knnIvfMultiProbe(corpus, queries, centroids, 1, nProbe = 2),
      "knnGraph" -> Similarity.knnGraph(corpus, centroids, 1, nProbe = 2),
      "knnJlRerank" -> Similarity.knnJlRerank(corpus, queries, 2, 2, "graft", 4, 1),
      "rerankExact" -> Pq.rerankExact(shortlist, corpus, queries, 1),
      "adcTopK" -> Pq.adcTopK(Pq.encode(sub, cb), qsub, cb, 1))
    variants.foreach { case (name, df) =>
      val got = df.filter($"query_id" === 1L).collect()
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Number]("rank").longValue))
      assert(got.toSeq === Seq((2L, 1L)), name)
      val rankType = if (name == "rerankExact" || name == "adcTopK") LongType else IntegerType
      assert(df.schema("rank").dataType === rankType, name)
    }
  }

  test("jlDistortionReport: exact pair counts, JL calibration near 1, wider sketch tightens") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    def ratios(outDim: Int): Seq[Double] = Similarity
      .jlDistortionReport(emb, queries, 64, outDim, "graft")
      .orderBy("query_id")
      .collect().map(_.getAs[Double]("ratio")).toSeq
    val rep = Similarity.jlDistortionReport(emb, queries, 64, 8, "graft")
      .collect()
    // every query sees exactly corpus−1 pairs, and masses are positive
    assert(rep.forall(_.getAs[Long]("n_pairs") === 499L))
    assert(rep.forall(_.getAs[Double]("sum_true_d2") > 0))
    // E[ratio] = 1 under the Rademacher JL identity; with Var ∝ 1/outDim
    // the 10-query mean at outDim 8 sits well inside [0.5, 1.5]
    val r8 = ratios(8)
    val mean8 = r8.sum / r8.size
    assert(mean8 > 0.5 && mean8 < 1.5, s"mean ratio@8 = $mean8")
    // the concentration dial: a 4× wider sketch estimates each pair's
    // distance with ~4× less variance — per-query ratios tighten
    val r32 = ratios(32)
    def spread(rs: Seq[Double]) =
      rs.map(r => math.abs(r - 1.0)).sum / rs.size
    assert(spread(r32) < spread(r8), s"${spread(r32)} !< ${spread(r8)}")
  }

  test("pcaPower ≡ single-threaded integer replay; the dominant axis takes the ∞-norm max") {
    // variance concentrated on dim 0 (alternating ±1); dims 2/3 constant
    val emb = (0 until 12).map(i => (i.toLong,
      Seq(if (i % 2 == 0) 1.0f else -1.0f, 0.05f * i, 0.3f, -0.2f)))
      .toDF("vec_id", "embedding")
    val dim = 4
    val m = Array.ofDim[BigInt](dim, dim)
    Similarity.covarianceFixed(emb).as[(Int, Int, Long)].collect()
      .foreach { case (i, j, v) => m(i)(j) = BigInt(v) }
    var v = Array.fill(dim)(BigInt(1000000))
    for (_ <- 1 to 3) {
      val u = Array.tabulate(dim)(i => (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val mx = u.map(_.abs).max
      v = u.map(x =>
        (if (x < 0) BigInt(-1) else BigInt(1)) * ((x.abs * 1000000) / mx))
    }
    val got = Similarity.pcaPower(emb, rounds = 3)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(got.toSeq === v.map(_.toLong).toSeq)
    assert(math.abs(got(0)) === 1000000L, got.mkString(","))
    assert(math.abs(got(2)) < 500000L) // constant dim carries no variance
  }

  test("kmeansTrainMicro separates planted blobs; centroids are exact floor-means") {
    // blob A around (1, 0), blob B around (-1, 0); seeds (first two by
    // vec_id) land one in each blob
    val emb = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(-1.0f, -0.1f)),
      (3L, Array(0.9f, 0.2f)), (4L, Array(-0.8f, 0.1f)),
      (5L, Array(1.1f, -0.3f)), (6L, Array(-1.2f, 0.2f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansTrainMicro(emb, k = 2, rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (cell, dim, n, cm) => (cell, dim) -> (n, cm) }.toMap
    // each blob is its own cell, 3 members each
    assert(got.values.forall(_._1 === 3L))
    // exact floor-mean on the micro grid, hand-computed: the mean of
    // floor(float→double(x)·1e6) over each blob, floor-divided
    // (all-positive shift cancels exactly because 3 | 3·shift)
    def fm(xs: Seq[Float]): Long = {
      val s = xs.map(x => math.floor(x.toDouble * 1e6).toLong + 2000000L).sum
      s / 3 - 2000000L // all terms positive: / is floor division here
    }
    assert(got((0L, 1L))._2 === fm(Seq(1.0f, 0.9f, 1.1f)))
    assert(got((0L, 2L))._2 === fm(Seq(0.1f, 0.2f, -0.3f)))
    assert(got((1L, 1L))._2 === fm(Seq(-1.0f, -0.8f, -1.2f)))
    assert(got((1L, 2L))._2 === fm(Seq(-0.1f, 0.1f, 0.2f)))
  }

  test("kmeansTrainMicro drops an emptied cell (duplicate seed, tie → lower cell)") {
    val emb = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    // seeds are both (0,0): every vector ties across the two cells and
    // the tie-break assigns cell 0 — cell 1 empties and is dropped
    val got = Similarity.kmeansTrainMicro(emb, k = 2, rounds = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet === Set(0L))
    assert(got.forall(_._3 === 3L))
  }

  test("trained-IVF serve: each planted query's neighbors are exactly its blob-mates") {
    val emb = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(-1.0f, -0.1f)),
      (3L, Array(0.9f, 0.2f)), (4L, Array(-0.8f, 0.1f)),
      (5L, Array(1.1f, -0.3f)), (6L, Array(-1.2f, 0.2f))
    ).toDF("vec_id", "embedding")
    val codebook = Similarity.readCodebookMicro(
      Similarity.kmeansTrainMicro(emb, k = 2, rounds = 2))
    val assigned = Similarity.assignCellsMicro(emb, codebook)
    val got = Similarity
      .knnAssignedCell(assigned, assigned.filter(col("vec_id") <= 2L), 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    // cells = blobs, so the served candidate set is the query's blob
    assert(got(1L) === Set(3L, 5L))
    assert(got(2L) === Set(4L, 6L))
  }

  test("kmeansFoldBatches: any batch split folds to the one-shot state (additivity)") {
    val emb = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(-1.0f, -0.1f)),
      (3L, Array(0.9f, 0.2f)), (4L, Array(-0.8f, 0.1f)),
      (5L, Array(1.1f, -0.3f)), (6L, Array(-1.2f, 0.2f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.readCodebookMicro(
      Similarity.kmeansTrainMicro(emb, k = 2, rounds = 1))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val oneShot = rows(Similarity.kmeansFoldBatches(Seq(emb), cb))
    val folded = rows(Similarity.kmeansFoldBatches(
      Seq(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1)), cb))
    assert(folded === oneShot)
    // a skewed split (one batch nearly empty) folds identically too
    val skewed = rows(Similarity.kmeansFoldBatches(
      Seq(emb.filter(col("vec_id") === 1L),
        emb.filter(col("vec_id") =!= 1L)), cb))
    assert(skewed === oneShot)
  }

  test("kmeansTrainMicro cells partition the corpus on real data") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val n = emb.count()
    val got = Similarity.kmeansTrainMicro(emb, k = 4, rounds = 2)
    // every dim of every cell carries the same member count; counts sum
    // to the corpus across cells
    val perCell = got.groupBy("cell")
      .agg(countDistinct(col("n_members")).as("nc"),
        max(col("n_members")).as("n"))
      .as[(Long, Long, Long)].collect()
    assert(perCell.forall(_._2 === 1L))
    assert(perCell.map(_._3).sum === n)
    // centroid stays on the unshifted micro grid within data range
    val mx = got.agg(max(abs(col("centroid_micro")))).head().getLong(0)
    assert(mx <= 2000000L)
  }
}
