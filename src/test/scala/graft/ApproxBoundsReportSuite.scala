package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Dedup

/** The sketch-family entries (`a9_approx_distinct`,
  * `a21_approx_percentiles`, `a24_hll_reagg`) produce engine-specific
  * sketch estimates, so since round 18 their GATED projections are
  * exact+verdict (exact answer + bound BOOLEANs the oracle states as
  * TRUE — VERDICT r17 item 1); the raw estimates never reach the
  * driver's hash. (`dedup_simhash` graduated to a full DuckDB oracle
  * in round 16 — md5-polynomial token hashes — and keeps its
  * perfect-recall law here as independent evidence.) This suite is the
  * quantitative evidence BEHIND those verdict booleans: it measures
  * each sketch's error against the exact answer on the real testdata
  * at sf0.001 and sf0.01, asserts the declared bound with margin
  * reported, and regenerates `target/APPROX_BOUNDS.md` (the committed
  * copy is refreshed from it by README's `cp`) so the round artifact
  * shows the measured numbers instead of a citation (VERDICT r9 task 8).
  *
  * Every measurement here is deterministic (HLL++, GK, Datasketches
  * HLL, and simhash are all deterministic given the input), so the
  * report is byte-stable until the driver regenerates the testdata.
  */
class ApproxBoundsReportSuite extends SparkSuite {

  private val sfs = Seq("0.001", "0.01")
  private def dir(sf: String) = s"/root/testdata/sf$sf"

  private def pct(x: Double): String = f"${x * 100}%.2f%%"

  test("measure the sketch-family bounds, assert them, regenerate APPROX_BOUNDS.md") {
    val lines = scala.collection.mutable.ArrayBuffer[String](
      "# APPROX_BOUNDS — measured error behind the exact+verdict gates",
      "",
      "Regenerated by `ApproxBoundsReportSuite` (fails the build if any",
      "bound is violated). The sketch queries' estimates are",
      "engine-specific, so their GATED projections are exact+verdict",
      "(round 18): the hash gate checks the exact answer plus bound",
      "BOOLEANs, and this file is the measured evidence behind those",
      "booleans (dedup_simhash is fully oracle-checked since round 16",
      "and appears here as extra recall evidence only).",
      "",
      "| query | bound (declared) | sf | measured | holds |",
      "|---|---|---|---|---|")

    for (sf <- sfs) {
      val o = Tables(spark, dir(sf), "orders")
      // a9: HLL++ at rsd 0.02 vs exact count distinct, per group; the
      // spec bound is 5% (2% rsd ≈ 1σ — 5% is the asserted envelope)
      val approx = o.groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("a"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = o.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val a9err = exact.map { case (k, e) =>
        math.abs(approx(k) - e).toDouble / e }.max
      assert(a9err <= 0.05, s"a9 sf$sf: max rel err $a9err > 5%")
      lines += s"| a9_approx_distinct | rel err ≤ 5% (rsd 2%) | $sf " +
        s"| max rel err ${pct(a9err)} | yes |"
    }

    for (sf <- sfs) {
      // a21: GK sketch at accuracy 1000 — SOME rank of the returned
      // value is within n/accuracy (+1) of the target rank q·n (rank
      // space; value space bounds nothing). Under ties the value
      // occupies the rank INTERVAL [count(<v)+1, count(≤v)], so the
      // deviation is the distance from q·n to that interval — a point
      // check on count(≤v) would overshoot by up to multiplicity−1 and
      // fail a spec-compliant sketch (the same interval discipline the
      // gated a21 verdict boolean uses).
      val accuracy = 1000L
      val ev = Tables(spark, dir(sf), "events").filter(col("value").isNotNull)
      val qs = Seq(0.5, 0.95, 0.99)
      val approx = ev.groupBy("event_type")
        .agg(expr(s"approx_percentile(value, array(${qs.mkString(",")}), $accuracy)")
          .as("ps"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val n = ev.groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      var worst = 0.0 // rank deviation as a fraction of the bound
      approx.foreach { case (k, ps) =>
        qs.zip(ps).foreach { case (q, v) =>
          val rLe = ev.filter(col("event_type") === k && col("value") <= v).count()
          val rLt = ev.filter(col("event_type") === k && col("value") < v).count()
          val tol = n(k).toDouble / accuracy + 1
          val target = q * n(k)
          val dev = math.max(0.0,
            math.max(target - rLe, (rLt + 1) - target))
          assert(dev <= tol, s"a21 sf$sf $k q=$q: rank-interval dev $dev > ±$tol")
          worst = math.max(worst, dev / tol)
        }
      }
      lines += s"| a21_approx_percentiles | rank err ≤ n/1000 + 1 | $sf " +
        f"| worst rank dev = ${worst * 100}%.0f%% of bound | yes |"
    }

    for (sf <- sfs) {
      // a24: Datasketches HLL lgK=12 — merge of daily sketches must be
      // LOSSLESS (estimate identical to one-pass sketch), and the
      // estimate itself within 3σ ≈ 4.9% of exact (σ = 1.04/√2¹²)
      val ev = Tables(spark, dir(sf), "events").filter(col("user_id").isNotNull)
      val merged = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = ev.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(merged === direct, s"a24 sf$sf: union-merge is not lossless")
      val exactU = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val a24err = exactU.map { case (k, e) =>
        math.abs(merged(k) - e).toDouble / e }.max
      assert(a24err <= 0.049, s"a24 sf$sf: max rel err $a24err > 4.9% (3σ)")
      lines += s"| a24_hll_reagg | merge lossless; rel err ≤ 4.9% (3σ, lgK 12) " +
        s"| $sf | merged ≡ direct; max rel err ${pct(a24err)} | yes |"
    }

    for (sf <- sfs) {
      // dedup_simhash: every emitted pair within the declared Hamming
      // radius, and exact duplicates recalled at distance 0 — the
      // perfect-recall property the chunk blocking guarantees. The
      // synthetic corpus has no exact dups, so 20 are PLANTED (doc_id
      // + 10⁹ copies) to make the recall measurement non-vacuous.
      val docs = Tables(spark, dir(sf), "documents")
      val planted = docs.filter(col("doc_id") % 25 === 0).limit(20)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      val plantedIds = planted.select("doc_id").collect().map(_.getLong(0))
      val corpus = docs.unionByName(planted)
      val pairs = Dedup.simhashPairs(corpus, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
      val maxHam = if (pairs.isEmpty) 0 else pairs.values.max
      assert(maxHam <= 3, s"simhash sf$sf: emitted hamming $maxHam > 3")
      val dupPairs = plantedIds.map(p => (p - 1000000000L, p))
      val missed = dupPairs.filterNot(p => pairs.get(p).contains(0))
      assert(missed.isEmpty,
        s"simhash sf$sf: ${missed.length} planted dup pairs not recalled at d=0")
      lines += s"| dedup_simhash | hamming ≤ 3; exact dups recalled at d=0 " +
        s"| $sf | ${pairs.size} pairs, max hamming $maxHam; " +
        s"${dupPairs.length}/${dupPairs.length} planted dups at d=0 | yes |"
    }

    for (sf <- sfs) {
      // a29: the fully-oracled KMV twin of a24 (k = 64 over the 48-bit
      // md5 family). Two properties: (1) MERGE CLOSURE IS EXACT — the
      // merged per-day sketches equal the one-pass sketch array
      // element-for-element (the algebraic law functions/Kmv.scala
      // states), and (2) the saturated estimator lands within 3·RSE of
      // exact, RSE = 1/√(k−2) ≈ 12.7% → 38% envelope (k is deliberately
      // small so the estimator branch is EXERCISED; the routing path
      // uses unsaturated sketches and is exact by construction).
      val k = 64
      val ev = graft.functions.Kmv.withHash(
        Tables(spark, dir(sf), "events").filter(col("user_id").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("user_id")),
        "user_id", "h")
      val merged = ev.groupBy("event_type", "day")
        .agg(expr(graft.functions.Kmv.sketchSparkSql("h", k)).as("sk"))
        .groupBy("event_type")
        .agg(expr(graft.functions.Kmv.mergeSparkSql("sk", k)).as("m"))
      val onePass = ev.groupBy("event_type")
        .agg(expr(graft.functions.Kmv.sketchSparkSql("h", k)).as("m"))
      val mArr = merged.collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val dArr = onePass.collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(mArr === dArr, s"a29 sf$sf: KMV merge is not closed")
      val est = merged
        .select(col("event_type"),
          expr(graft.functions.Kmv.estimateSparkSql("m", k)).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactK = Tables(spark, dir(sf), "events")
        .filter(col("user_id").isNotNull).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val a29err = exactK.map { case (g, e) =>
        math.abs(est(g) - e).toDouble / e }.max
      assert(a29err <= 3.0 / math.sqrt(k - 2.0),
        s"a29 sf$sf: max rel err $a29err > 3·RSE")
      lines += s"| a29_kmv_distinct | merge closed exactly; rel err ≤ 38% (3·RSE, k=64) " +
        s"| $sf | merged ≡ one-pass; max rel err ${pct(a29err)} | yes |"
    }

    for (sf <- sfs) {
      // a31: θ-sketch intersection over the same KMV family. Two
      // regimes, matching the entry's CASE: (1) COMPLETE — a k big
      // enough to hold every user hash makes θ = 2⁴⁸ and the estimate
      // IS the exact intersection (asserted ==); (2) SATURATED — the
      // gated k = 64 estimate must land within the same 3·RSE envelope
      // as a29 (the θ scale-up shares the k-th-order-statistic
      // variance; overlap on this data is large relative to the union,
      // the regime the estimator is specified for).
      val e = Tables(spark, dir(sf), "events")
        .filter(col("user_id").isNotNull)
        .select("event_type", "user_id").distinct()
      val exactPairs = e.select(col("event_type").as("ta"), col("user_id"))
        .join(e.select(col("event_type").as("tb"), col("user_id")), "user_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("exact"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      def estimates(k: Int): Map[(String, String), Long] = {
        val h = graft.functions.Kmv.withHash(e, "user_id", "h")
        val sk = h.groupBy("event_type")
          .agg(expr(graft.functions.Kmv.sketchSparkSql("h", k)).as("sk"))
        sk.agg(array_sort(collect_list(struct(col("event_type"), col("sk"))))
            .as("all"))
          .select(explode(expr(
            """flatten(transform(all, (a, i) ->
                 transform(slice(all, i + 2, size(all)),
                           b -> named_struct('a', a, 'b', b))))""")).as("p"))
          .select(col("p.a.event_type").as("ta"),
            col("p.b.event_type").as("tb"),
            col("p.a.sk").as("ska"), col("p.b.sk").as("skb"))
          .withColumn("theta",
            least(expr(graft.functions.Kmv.thetaSparkSql("ska", k)),
              expr(graft.functions.Kmv.thetaSparkSql("skb", k))))
          .select(col("ta"), col("tb"),
            expr(graft.functions.Kmv.intersectEstimateSparkSql(
              graft.functions.Kmv.commonBelowSparkSql("ska", "skb", "theta"),
              "theta")).as("est"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
      }
      val complete = estimates(4096)
      // compare on the key union explicitly: exactPairs comes from an
      // inner join so a zero-overlap type pair is ABSENT there, while
      // the estimate enumeration emits every pair — on regenerated
      // testdata a plain === would fail confusingly on such a pair even
      // though the estimator is exactly right (est = 0). Assert the
      // absent pairs estimate 0 and the present ones match exactly.
      val zeroPairs = complete.keySet -- exactPairs.keySet
      assert(zeroPairs.forall(p => complete(p) == 0L),
        s"a31 sf$sf: complete-regime estimates nonzero overlap for " +
          s"pairs with no exact overlap: ${zeroPairs.filter(complete(_) != 0L)}")
      assert(exactPairs.forall { case (p, ex) => complete.get(p).contains(ex) },
        s"a31 sf$sf: complete-regime θ-intersection is not exact")
      val est64 = estimates(64)
      // ex >= 1 by construction (inner-join counts), but guard anyway so
      // a future refactor to an outer join can't divide by zero; the
      // 3·RSE envelope is only specified for pairs with overlap
      val a31err = exactPairs.collect { case (p, ex) if ex > 0 =>
        math.abs(est64.getOrElse(p, 0L) - ex).toDouble / ex }.max
      assert(a31err <= 3.0 / math.sqrt(64 - 2.0),
        s"a31 sf$sf: max rel err $a31err > 3·RSE")
      lines += s"| a31_kmv_intersect | complete regime exact; rel err ≤ 38% (3·RSE, k=64) " +
        s"| $sf | complete ≡ exact on all ${exactPairs.size} pairs; max rel err ${pct(a31err)} | yes |"
    }

    lines += ""
    lines += "Bounds sources: HLL++ rsd parameter (a9), GK sketch rank"
    lines += "guarantee n/accuracy (a21), Datasketches HLL standard error"
    lines += "1.04/√2^lgK (a24), the KMV estimator RSE 1/√(k−2)"
    lines += "(a29, Bar-Yossef et al. 2002 — oracle-checked, listed for its"
    lines += "measured estimate accuracy), the θ-sketch intersection"
    lines += "scale-up (a31, Dasgupta et al. — oracle-checked, same"
    lines += "order-statistic envelope), and the simhash chunk-blocking"
    lines += "recall argument (operators/Dedup.scala)."
    // under target/, never over the tracked APPROX_BOUNDS.md (README
    // "Running" gives the cp that refreshes it)
    val report = Paths.get("target", "APPROX_BOUNDS.md")
    Files.createDirectories(report.getParent)
    Files.writeString(report, lines.mkString("\n") + "\n")
  }
}
