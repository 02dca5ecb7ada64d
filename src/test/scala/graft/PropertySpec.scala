package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.operators.{AsOfJoin, Dedup}

/** Property-based checks: the operators whose correctness argument is
  * "≡ a naive formulation on ANY input" get random inputs, not just the
  * hand fixtures — a fixed scalacheck seed keeps runs deterministic, and
  * sizes stay small so each property is a few Spark jobs, not a fuzz
  * marathon. (Raw scalacheck: the scalatest bridge artifact is not on
  * the offline classpath.) */
class PropertySpec extends SparkSuite {

  import spark.implicits._

  /** 20 deterministic cases per property — each case runs Spark jobs. */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(20)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  private val genEvents: Gen[List[(Long, Long, Long)]] =
    Gen.listOfN(40, for {
      key <- Gen.choose(0L, 3L)   // few keys → collisions guaranteed
      ts <- Gen.choose(0L, 20L)   // tiny ts domain → equal-ts ties guaranteed
      id <- Gen.choose(0L, 500L)
    } yield (key, ts, id))

  test("asof ≡ naive quadratic join on random inputs, including ties") {
    check(Prop.forAll(genEvents, genEvents) { (l, r) =>
      (l.nonEmpty && r.nonEmpty) ==> {
        // ids made unique so the greatest-tiebreak winner is well defined
        val left = l.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
          .toDF("k", "ts", "lid")
        val right = r.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
          .toDF("k", "ts", "rid")
        val got = AsOfJoin.latestPrior(left, right, "k", "ts",
          Seq("lid"), Seq("rid"), "rid")
          .collect()
          .map(row => row.getAs[Long]("lid") -> Option(row.get(3)).map(_.asInstanceOf[Long]))
          .toMap
        // naive oracle: all right rows at-or-before, take max (ts, rid)
        val naive = left.as[(Long, Long, Long)].collect().map { case (k, t, lid) =>
          val cands = r.zipWithIndex.collect {
            case ((rk, rt, _), i) if rk == k && rt <= t => (rt, i.toLong)
          }
          lid -> (if (cands.isEmpty) None else Some(cands.max._2))
        }.toMap
        got == naive
      }
    })
  }

  test("connected components: endpoints always co-clustered; cluster id is the min member") {
    val genPairs = Gen.listOfN(25, for {
      a <- Gen.choose(0L, 30L); b <- Gen.choose(0L, 30L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(genPairs) { ps =>
      ps.nonEmpty ==> {
        val ids = ps.flatMap(p => Seq(p._1, p._2)).distinct
        val comp = Dedup.connectedComponents(
            ids.toDF("doc_id"), "doc_id", ps.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val edgesOk = ps.forall { case (a, b) => comp(a) == comp(b) }
        val minOk = comp.groupBy(_._2).forall { case (cid, members) =>
          members.keys.min == cid
        }
        edgesOk && minOk
      }
    })
  }

  test("topGram ≡ naive count-then-argmax on random token arrays") {
    val words = Vector("a", "b", "c", "dd", "e")
    val genArrs = Gen.listOfN(6, Gen.listOfN(12, Gen.oneOf(words)))
    check(Prop.forAll(genArrs) { arrs =>
      arrs.nonEmpty ==> {
        val df = arrs.zipWithIndex.map { case (ws, i) => (i.toLong, ws) }
          .toDF("id", "arr")
        val got = df.select($"id",
            graft.functions.TextFunctions.topGram($"arr").as("t"))
          .select($"id", $"t.tok", $"t.n")
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
          .toMap
        arrs.zipWithIndex.forall { case (ws, i) =>
          val counts = ws.groupBy(identity).view.mapValues(_.size).toMap
          val naive = counts.toSeq.sortBy { case (t, n) => (-n, t) }.head
          got(i.toLong) == ((naive._1, naive._2.toLong))
        }
      }
    })
  }

  test("alternating-star CC ≡ propagation CC on random pair graphs") {
    val genPairs = Gen.listOfN(20, for {
      a <- Gen.choose(0L, 24L); b <- Gen.choose(0L, 24L) if a != b
    } yield (a, b))
    check(Prop.forAll(genPairs) { ps =>
      ps.nonEmpty ==> {
        val ids = ps.flatMap(p => Seq(p._1, p._2)).distinct.toDF("doc_id")
        val pairs = ps.toDF("doc_a", "doc_b")
        val prop = Dedup.connectedComponents(ids, "doc_id", pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val star = Dedup.connectedComponentsAlternating(ids, "doc_id", pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        prop == star
      }
    })
  }

  test("decontaminate: probes never survive and the kept set stays inside the corpus") {
    val words = Vector("alpha", "beta", "gamma", "delta")
    val genDocs = Gen.listOfN(8, Gen.listOfN(6, Gen.oneOf(words)))
    check(Prop.forAll(genDocs) { docs =>
      docs.nonEmpty ==> {
        val df = docs.zipWithIndex
          .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        val probes = df.filter($"doc_id" % 3 === 0)
        val kept = graft.operators.Curation.decontaminate(df, probes, n = 4)
          .select("doc_id").as[Long].collect().toSet
        // probes always flag themselves (every doc overlaps itself)
        val probeIds = probes.select("doc_id").as[Long].collect().toSet
        (kept intersect probeIds).isEmpty &&
          kept.subsetOf(docs.indices.map(_.toLong).toSet)
      }
    })
  }

  /** First md5 byte, unsigned — the reference for tokenBucket and the
    * CDC boundary rule (first hex char '0' ⟺ first byte < 16). */
  private def md5Byte(s: String): Int =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))(0) & 0xff

  private val genToken: Gen[String] =
    Gen.choose(0, 2999).map(i => s"tk$i")

  test("content-defined chunks tile the tokens and cut exactly at md5-'0' boundaries") {
    val genDoc = Gen.listOfN(30, genToken)
    check(Prop.forAll(Gen.listOfN(4, genDoc)) { docs =>
      docs.nonEmpty ==> {
        val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        val out = graft.operators.Curation.contentDefinedChunks(df).collect()
          .groupBy(_.getLong(0))
        docs.indices.forall { i =>
          val toks = docs(i)
          val boundaries = toks.count(t => md5Byte(t) < 16)
          val expectChunks =
            boundaries + (if (md5Byte(toks.last) < 16) 0 else 1)
          val rows = out(i.toLong)
          rows.map(_.getAs[Long]("n_tokens")).sum == toks.length.toLong &&
            rows.length == expectChunks &&
            rows.map(_.getAs[Long]("chunk_idx")).sorted.toSeq ==
              (0L until rows.length.toLong)
        }
      }
    })
  }

  test("hashedBowSum ≡ summing reference md5 first bytes, centered") {
    val genDoc = Gen.nonEmptyListOf(genToken).map(_.take(20))
    check(Prop.forAll(genDoc) { toks =>
      val expected = toks.map(t => (md5Byte(t) - 128).toLong).sum
      val got = Seq(Tuple1(toks.mkString(" "))).toDF("text")
        .select(graft.functions.TextFunctions.hashedBowSum(col("text")))
        .head().getLong(0)
      got == expected
    })
  }

  test("zValue round-trips: deinterleaving recovers both coordinates") {
    val genXY = Gen.listOfN(32, for {
      x <- Gen.choose(0L, (1L << 12) - 1)
      y <- Gen.choose(0L, (1L << 12) - 1)
    } yield (x, y))
    def deinterleave(z: Long, bits: Int): (Long, Long) =
      (0 until bits).foldLeft((0L, 0L)) { case ((x, y), i) =>
        (x | (((z >> (2 * i)) & 1L) << i), y | (((z >> (2 * i + 1)) & 1L) << i))
      }
    check(Prop.forAll(genXY) { pts =>
      pts.nonEmpty ==> {
        val zs = pts.toDF("x", "y")
          .select(col("x"), col("y"),
            graft.core.Layout.zValue(col("x"), col("y"), 12).as("z"))
          .collect()
        zs.forall { r =>
          deinterleave(r.getLong(2), 12) == ((r.getLong(0), r.getLong(1)))
        }
      }
    })
  }

  test("ngram jaccard: symmetric-unique pairs with scores in (0, 1]") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val genDocs = Gen.listOfN(8, Gen.listOfN(6, Gen.oneOf(words)))
    check(Prop.forAll(genDocs) { docs =>
      docs.nonEmpty ==> {
        val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        val pairs = Dedup.ngramJaccardPairs(df, 2, 0.01).collect()
        pairs.forall { p =>
          val (a, b, j) = (p.getLong(0), p.getLong(1), p.getDouble(2))
          a < b && j > 0.0 && j <= 1.0
        }
      }
    })
  }

  /** Rows: (key, value-or-null). A retraction list is drawn FROM the
    * base (retracting a never-inserted row is undefined IVM input). */
  private val genIvm: Gen[(List[(Long, Option[Long])], List[Int], List[(Long, Option[Long])])] =
    for {
      base <- Gen.listOfN(30, for {
        k <- Gen.choose(0L, 4L)
        v <- Gen.option(Gen.choose(-50L, 50L))
      } yield (k, v))
      retractIdx <- Gen.someOf(base.indices)
      inserts <- Gen.listOfN(10, for {
        k <- Gen.choose(0L, 6L)   // keys 5,6 can be born by the delta
        v <- Gen.option(Gen.choose(-50L, 50L))
      } yield (k, v))
    } yield (base, retractIdx.toList, inserts)

  test("Exact.bigColToDouble ≡ BigDecimal's correctly-rounded conversion on random wide integers") {
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    import graft.queries.Exact
    // magnitudes across the whole envelope: 0 .. 2^104, both signs —
    // including values straddling the 2^52/2^53 boundaries where a
    // double-rounded reassembly would diverge from the single rounding
    val genWide: Gen[List[BigInt]] = Gen.listOfN(24, for {
      bits <- Gen.choose(0, 104)
      body <- Gen.choose(0L, Long.MaxValue)
      low  <- Gen.choose(0L, 7L) // exercise last-bit rounding positions
      neg  <- Gen.oneOf(true, false)
    } yield {
      val v = (BigInt(body) << (bits max 1)) + BigInt(low)
      val clipped = v.mod(BigInt(1) << 104)
      if (neg) -clipped else clipped
    })
    check(Prop.forAll(genWide) { vs =>
      vs.nonEmpty ==> {
        val schema = StructType(Seq(StructField("v", DecimalType(38, 0))))
        val inRange = vs.filter(_.abs < BigInt(10).pow(38))
        val rows = inRange.map(v =>
          org.apache.spark.sql.Row(new java.math.BigDecimal(v.bigInteger)))
        val got = spark.createDataFrame(
          spark.sparkContext.parallelize(rows), schema)
          .withColumn("d", Exact.bigColToDouble("v"))
          .collect().map(r => (BigInt(r.getDecimal(0).toBigInteger),
            java.lang.Double.doubleToLongBits(r.getDouble(1)))).toMap
        inRange.forall { v =>
          got(v) == java.lang.Double.doubleToLongBits(
            new java.math.BigDecimal(v.bigInteger).doubleValue)
        }
      }
    })
  }

  test("maintainAggregate ≡ from-scratch recompute on random changelogs") {
    import graft.pipeline.IncrementalFinal
    check(Prop.forAll(genIvm) { case (base, retractIdx, inserts) =>
      (base.nonEmpty) ==> {
        val baseDf = base.toDF("k", "v_micro")
        val baseAgg = baseDf.groupBy("k").agg(
          count(lit(1)).as("cnt"),
          count(col("v_micro")).as("n_nonnull"),
          sum(col("v_micro")).as("sum_micro"))
        val retracted = retractIdx.map(base)
        val delta = (inserts.map { case (k, v) => (k, v, 1L) } ++
          retracted.map { case (k, v) => (k, v, -1L) })
          .toDF("k", "v_micro", "sign")
        val got = IncrementalFinal
          .maintainAggregate(baseAgg, delta, Seq("k"))
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
        // recompute over base minus retracted (multiset!) plus inserts
        val remaining = retractIdx.foldLeft(base.zipWithIndex) {
          case (acc, i) => acc.filterNot(_._2 == i)
        }.map(_._1)
        val re = (remaining ++ inserts).toDF("k", "v_micro")
          .groupBy("k").agg(
            count(lit(1)).as("cnt"), sum(col("v_micro")).as("sum_micro"))
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
          .toMap
        got == re
      }
    })
  }

  /** PQ encode ≡ the naive per-subspace argmin on ANY vectors, with the
    * exact tie rule (equal score → lowest codeword id). Values come
    * from a half-integer grid so exact score ties actually occur. */
  test("PQ encode picks the naive nearest codeword on random inputs, ties to lowest cid") {
    val m = 2; val subDim = 4; val dim = m * subDim
    val genVecs: Gen[List[List[Float]]] =
      Gen.listOfN(12, Gen.listOfN(dim, Gen.choose(-2, 2).map(_ / 2.0f)))
    check(Prop.forAll(genVecs) { vecs =>
      (vecs.size >= 4) ==> {
        val emb = vecs.zipWithIndex
          .map { case (v, i) => (i.toLong, v.toArray) }
          .toDF("vec_id", "embedding")
        val nCodes = 3
        val sub = graft.operators.ProductQuantizer
          .subvectors(emb, "vec_id", "embedding", m, subDim)
        val cb = graft.operators.ProductQuantizer
          .sampleCodebook(emb, nCodes, m, subDim)
        val got = graft.operators.ProductQuantizer.encode(sub, cb)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
        // naive argmin with vecDot's exact fold order
        def dot(a: Seq[Float], b: Seq[Float]): Double =
          a.indices.foldLeft(0.0)((acc, i) =>
            acc + a(i).toDouble * b(i).toDouble)
        val books = (0 until m).map { s =>
          vecs.take(nCodes).zipWithIndex.map { case (v, cid) =>
            cid.toLong -> v.slice(s * subDim, (s + 1) * subDim) }
        }
        val naive = (for {
          (v, id) <- vecs.zipWithIndex
          s <- 0 until m
        } yield {
          val vs = v.slice(s * subDim, (s + 1) * subDim)
          var bestCid = -1L; var bestScore = Double.NegativeInfinity
          books(s).foreach { case (cid, c) =>
            val score = dot(vs, c) - dot(c, c) / 2
            if (score > bestScore ||
                (score == bestScore && cid < bestCid)) {
              bestScore = score; bestCid = cid
            }
          }
          (id.toLong, s) -> bestCid
        }).toMap
        got == naive
      }
    })
  }

  private val genCorpus: Gen[List[String]] =
    Gen.listOfN(60, Gen.choose(0, 15).map(i => s"w$i")) // few keys → collisions

  test("count-min: est ≥ true for every key and merge ≡ direct, on random corpora") {
    import graft.operators.CountMin
    val (d, w) = (3, 8) // collision-heavy on purpose
    check(Prop.forAll(genCorpus, genCorpus) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val adf = a.toDF("it"); val bdf = b.toDF("it")
        val est = CountMin.estimate(adf, "it", CountMin.sketch(adf, "it", d, w), d, w)
          .as[(String, Long)].collect().toMap
        val exact = a.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val oneSided = exact.forall { case (k, n) => est(k) >= n }
        val merged = CountMin.merge(
          CountMin.sketch(adf, "it", d, w), CountMin.sketch(bdf, "it", d, w))
          .as[(Int, Long, Long)].collect().toSet
        val direct = CountMin.sketch(adf.unionByName(bdf), "it", d, w)
          .as[(Int, Long, Long)].collect().toSet
        oneSided && merged == direct
      }
    })
  }

  test("ams: merge ≡ direct, every replicate present, and S_j has the stream's parity") {
    import graft.operators.AmsSketch
    val r = 16
    check(Prop.forAll(genCorpus, genCorpus) { (a, b) =>
      (a.nonEmpty && b.nonEmpty) ==> {
        val sa = AmsSketch.signedSums(a.toDF("it"), "it", r)
          .as[(Int, Long)].collect().toMap
        val sb = AmsSketch.signedSums(b.toDF("it"), "it", r)
          .as[(Int, Long)].collect().toMap
        val direct = AmsSketch.signedSums((a ++ b).toDF("it"), "it", r)
          .as[(Int, Long)].collect().toMap
        val mergeOk = (0 until r).forall(j => sa(j) + sb(j) == direct(j))
        // a sum of n ±1 terms always has n's parity, and |S_j| ≤ n —
        // catches any sign family that drops or double-counts a row
        val shapeOk = sa.size == r && sa.values.forall(s =>
          math.abs(s) <= a.size && ((s - a.size) % 2 == 0))
        mergeOk && shapeOk
      }
    })
  }

  test("dsir: scores ≡ reference fold on random corpora with random target slices") {
    import graft.operators.Dsir
    val genDocs: Gen[List[(Long, String, Boolean)]] =
      Gen.listOfN(12, for {
        n <- Gen.choose(1, 6)
        ws <- Gen.listOfN(n, Gen.choose(0, 9).map(i => s"w$i"))
        t <- Gen.oneOf(true, false)
      } yield (ws.mkString(" "), t)).map(_.zipWithIndex.map {
        case ((txt, t), i) => (i.toLong, txt, t)
      })
    check(Prop.forAll(genDocs) { docs =>
      docs.exists(_._3) ==> {
        val df = docs.toDF("doc_id", "text", "is_t")
        val got = Dsir.importanceScores(df, "doc_id", "text", col("is_t"))
          .as[(Long, Long, Double)].collect()
          .map { case (id, n, s) => id -> (n, s) }.toMap
        val toks = docs.flatMap { case (id, t, d) =>
          t.split(" ").filter(_.nonEmpty).map(w => (id, w, d)) }
        val cR = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val cT = toks.filter(_._3).groupBy(_._2)
          .view.mapValues(_.size.toLong).toMap
        def ratio(wd: String): Long =
          (cT.getOrElse(wd, 0L) + 1L) * 1000000L / (cR(wd) + 1L)
        val expect = toks.groupBy(_._1).map { case (id, ts) =>
          id -> (ts.size.toLong,
            ts.map(x => ratio(x._2)).sum.toDouble / ts.size.toDouble)
        }
        got == expect
      }
    })
  }

  test("bpe: two replace passes ≡ greedy merge fold for l≠r merges on random strings") {
    // the equivalence that licenses text_bpe_encode's SQL oracle
    // (Bpe.replaceFoldSql scaladoc): checked on an adversarial merge
    // chain — multi-char symbols, a merged symbol reused as the left
    // side, and alternating-run bait like "ababab"/"aaaa" — over a
    // 3-letter alphabet where overlaps are as dense as they get.
    import graft.operators.Bpe
    val merges = Seq(("a", "b"), ("ab", "a"), ("b", "a"), ("c", "a"),
      ("ca", "ab")).zipWithIndex.map { case ((l, r), i) =>
      Bpe.Merge(l, r, 0L, i + 1) }
    val genTok: Gen[String] =
      Gen.choose(1, 14).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    check(Prop.forAll(Gen.listOfN(30, genTok)) { toks =>
      toks.nonEmpty ==> {
        val df = toks.distinct.toDF("tok")
        val fold = merges.foldLeft(split(col("tok"), "").as("syms")) {
          (acc, m) => Bpe.applyMerge(acc, m.left, m.right).as("syms")
        }
        val got = df.select(col("tok"),
          concat(lit(" "), array_join(fold, " "), lit(" ")).as("via_fold"),
          expr(Bpe.replaceFoldSql(
            "(' ' || regexp_replace(tok, '(.)', '$1 '))", merges))
            .as("via_replace"))
          .collect()
        got.forall(r => r.getString(1) == r.getString(2))
      }
    })
  }

  test("blocked global rank ≡ naive sort on random multisets, under any partitioning") {
    import graft.operators.ExactRank
    val genVals: Gen[List[Long]] = for {
      n <- Gen.choose(1, 60)
      // tiny domain → duplicate values guaranteed; negatives included
      vs <- Gen.listOfN(n, Gen.choose(-8L, 8L))
    } yield vs
    check(Prop.forAll(genVals, Gen.choose(1, 7)) { (vs, parts) =>
      val df = vs.toDF("v").repartition(parts)
      val got = ExactRank.withGlobalRank(df, "v", nCells = 16)
        .select("rank", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val expect = vs.sorted.zipWithIndex
        .map { case (v, i) => ((i + 1).toLong, v) }
      // ranks are exactly 1..n and the value at every rank matches the
      // sorted multiset (ties make row identity ambiguous, value not)
      got.toSeq == expect
    })
    // full-range endpoints: (v−lo)·nCells would overflow BIGINT here —
    // the double cell path must stay monotone and the ranks exact
    val extreme = List(Long.MinValue, -1L, 0L, 1L, Long.MaxValue,
      Long.MaxValue - 1, Long.MinValue + 1, 42L)
    val got = ExactRank.withGlobalRank(extreme.toDF("v"), "v", nCells = 16)
      .select("rank", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toList
    assert(got == extreme.sorted.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) })
    // rank COLLISION: on n=2, ⌈0.25n⌉ = ⌈0.5n⌉ = 1 — each requested q
    // must still emit its own row (the oracle's qs-table cross join
    // semantics), not be swallowed by the first match
    val picks = ExactRank
      .quantilePicks(List(10L, 20L).toDF("v"), "v", Seq(0.25, 0.5, 0.75))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toList
    assert(picks == List((0.25, 1L, 10L), (0.5, 1L, 10L), (0.75, 2L, 20L)))
  }

  test("ExactRank under adversarial skew: a 99%-duplicated value plus " +
    "near-boundary neighbors keeps ranks exact; bad fractions are rejected") {
    import graft.operators.ExactRank
    // one value owns 99% of the rows — the double-space cell mapping
    // funnels the whole plateau into ONE cell, which must degrade to a
    // bigger partitioned-window partition, never a wrong rank; the
    // remaining 1% sit within ±5 of the hot value, straddling the hot
    // cell's boundaries with duplicates on both sides
    val hot = List.fill(990)(1000L)
    val rest = (1L to 5L).flatMap(d => List(1000L - d, 1000L + d)).toList
    val vs = hot ++ rest // 1000 rows, domain width 10
    val got = ExactRank
      .withGlobalRank(vs.toDF("v").repartition(7), "v", nCells = 16)
      .select("rank", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expect = vs.sorted.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }
    assert(got.toSeq == expect)
    // rank-picks across the hot plateau and into both tails stay exact
    val picks = ExactRank
      .quantilePicks(vs.toDF("v"), "v", Seq(0.004, 0.5, 0.999))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toList
    assert(picks == List((0.004, 4L, 998L), (0.5, 500L, 1000L),
      (0.999, 999L, 1004L)))
    // a caller typo (25 for 0.25, or q=0) is an ERROR, not an
    // empty/short result
    intercept[IllegalArgumentException] {
      ExactRank.quantilePicks(vs.toDF("v"), "v", Seq(25.0))
    }
    intercept[IllegalArgumentException] {
      ExactRank.quantilePicks(vs.toDF("v"), "v", Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      ExactRank.quantilePicks(vs.toDF("v"), "v", Seq.empty)
    }
  }

  test("ExactSubstr spans + removal ≡ brute-force reference on random tiny-alphabet corpora") {
    // 3-token alphabet over short docs → duplicated windows guaranteed,
    // including within-doc repeats and overlapping occurrences
    val genCorpus: Gen[List[(Long, List[String])]] =
      Gen.listOfN(6, Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c"))))
        .map(_.zipWithIndex.map { case (ts, i) => ((i + 1).toLong, ts) })
    val L = 3

    def windows(c: List[(Long, List[String])]) = for {
      (id, toks) <- c if toks.size >= L
      p <- 1 to (toks.size - L + 1)
    } yield (id, p.toLong, toks.slice(p - 1, p - 1 + L).mkString(" "))

    check(Prop.forAll(genCorpus) { corpus =>
      val wins = windows(corpus)
      val freq = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val dup = wins.filter(w => freq(w._3) > 1)

      // brute spans: merge sorted duplicated positions per doc
      val expectSpans = dup.groupBy(_._1).toList.flatMap { case (id, ws) =>
        val ps = ws.map(_._2).distinct.sorted
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        var start = ps.head; var prev = ps.head
        for (p <- ps.tail) {
          if (p > prev + L) { spans += ((start, prev + L - 1)); start = p }
          prev = p
        }
        spans += ((start, prev + L - 1))
        spans.map { case (s, e) => (id, s, e, e - s + 1) }
      }.toSet

      // brute removal: survivor occurrence = min (doc, pos) per gram;
      // token removed iff dup-covered and never survivor-covered
      val surv = dup.groupBy(_._3).view.mapValues(ws =>
        ws.map(w => (w._1, w._2)).min).toMap
      val covered = dup.flatMap(w =>
        (w._2 until w._2 + L).map(p => (w._1, p))).toSet
      val survCovered = dup.filter(w => surv(w._3) == ((w._1, w._2)))
        .flatMap(w => (w._2 until w._2 + L).map(p => (w._1, p))).toSet
      val expectRemoved = corpus.flatMap { case (id, toks) =>
        val kept = toks.zipWithIndex.collect {
          case (t, i) if !(covered((id, i + 1L)) && !survCovered((id, i + 1L))) => t
        }
        if (kept.nonEmpty) Some((id, kept.mkString(" "))) else None
      }.toSet

      val df = corpus.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val gotSpans = Dedup.maximalDuplicateSpans(df, L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val gotRemoved = Dedup.removeDuplicateSubstrings(df, L).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // empty-text docs tokenize to [""], a real 1-token doc — mirror
      // that in the expectation (the brute model uses [] for them)
      val emptyDocs = corpus.collect {
        case (id, ts) if ts.isEmpty => (id, "")
      }.toSet
      (gotSpans == expectSpans) :| s"spans: $gotSpans vs $expectSpans" &&
        (gotRemoved == (expectRemoved ++ emptyDocs)) :|
          s"removed: $gotRemoved vs ${expectRemoved ++ emptyDocs}"
    })
  }

  test("maintainJoin ≡ from-scratch re-join on random two-sided changelogs") {
    import graft.pipeline.IncrementalFinal
    // A rows: (k, aid); B rows: (k, bid). Random bases + random
    // deletions and insertions on BOTH sides in the same batch.
    val genSide: Gen[(List[(Long, Long)], List[(Long, Long)])] = for {
      nb <- Gen.choose(0, 12)
      base <- Gen.listOfN(nb, Gen.choose(0L, 4L))  // keys; few → matches
      nd <- Gen.choose(0, 4)                        // deletions (indices)
      del <- Gen.listOfN(nd, Gen.choose(0, math.max(0, nb - 1)))
      ni <- Gen.choose(0, 4)
      ins <- Gen.listOfN(ni, Gen.choose(0L, 4L))
    } yield {
      val b = base.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val dels = del.distinct.filter(_ < b.size).map(b)
      val adds = ins.zipWithIndex.map { case (k, i) => (k, 1000L + i) }
      (b, dels.map(r => (r._1, r._2)) ++ adds.map(r => (r._1, -r._2 - 1)))
      // encode: delta rows with bid/aid < 0 are the INSERTED ids
      // (kept disjoint from base ids); deletions reuse base ids
    }
    check(Prop.forAll(genSide, genSide) { case ((aBase, aDelta), (bBase, bDelta)) =>
      def split(base: List[(Long, Long)], delta: List[(Long, Long)]) = {
        val dels = delta.filter(_._2 >= 0)
        val adds = delta.filter(_._2 < 0).map { case (k, id) => (k, -id + 5000L) }
        (base, dels, adds)
      }
      val (ab, adel, aadd) = split(aBase, aDelta)
      val (bb, bdel, badd) = split(bBase, bDelta)
      val aOld = ab.toDF("k", "aid")
      val bOld = bb.toDF("k", "bid")
      val dA = aadd.map { case (k, id) => (k, id, 1L) }
        .++(adel.map { case (k, id) => (k, id, -1L) }).toDF("k", "aid", "sign")
      val dB = badd.map { case (k, id) => (k, id, 1L) }
        .++(bdel.map { case (k, id) => (k, id, -1L) }).toDF("k", "bid", "sign")
      val view = aOld.join(bOld, Seq("k"))
      val got = IncrementalFinal
        .maintainJoin(view, aOld, bOld, dA, dB, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toList
      // from scratch over the post-change bases
      val aNew = (ab.diff(adel)) ++ aadd
      val bNew = (bb.diff(bdel)) ++ badd
      val expect = (for {
        (ka, aid) <- aNew; (kb, bid) <- bNew if ka == kb
      } yield (ka, aid, bid)).sorted
      got == expect
    })
  }

  test("maintainLeftJoin ≡ from-scratch left re-join, including 0→match and match→0 keys") {
    import graft.pipeline.IncrementalFinal
    val genSide: Gen[(List[(Long, Long)], List[(Long, Long)])] = for {
      nb <- Gen.choose(0, 10)
      base <- Gen.listOfN(nb, Gen.choose(0L, 4L))
      nd <- Gen.choose(0, 5) // aggressive deletions → match→0 transitions
      del <- Gen.listOfN(nd, Gen.choose(0, math.max(0, nb - 1)))
      ni <- Gen.choose(0, 4) // inserts on sparse keys → 0→match
      ins <- Gen.listOfN(ni, Gen.choose(0L, 4L))
    } yield {
      val b = base.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val dels = del.distinct.filter(_ < b.size).map(b)
      val adds = ins.zipWithIndex.map { case (k, i) => (k, 1000L + i) }
      (b, dels ++ adds.map(r => (r._1, -r._2 - 1)))
    }
    check(Prop.forAll(genSide, genSide) { case ((aBase, aDelta), (bBase, bDelta)) =>
      def split(base: List[(Long, Long)], delta: List[(Long, Long)]) = {
        val dels = delta.filter(_._2 >= 0)
        val adds = delta.filter(_._2 < 0).map { case (k, id) => (k, -id + 5000L) }
        (base, dels, adds)
      }
      val (ab, adel, aadd) = split(aBase, aDelta)
      val (bb, bdel, badd) = split(bBase, bDelta)
      val aOld = ab.toDF("k", "aid")
      val bOld = bb.toDF("k", "bid")
      val dA = aadd.map { case (k, id) => (k, id, 1L) }
        .++(adel.map { case (k, id) => (k, id, -1L) }).toDF("k", "aid", "sign")
      val dB = badd.map { case (k, id) => (k, id, 1L) }
        .++(bdel.map { case (k, id) => (k, id, -1L) }).toDF("k", "bid", "sign")
      val view = aOld.join(bOld, Seq("k"), "left")
      val got = IncrementalFinal
        .maintainLeftJoin(view, aOld, bOld, dA, dB, Seq("k"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -999L else r.getLong(2)))
        .sorted.toList
      val aNew = (ab.diff(adel)) ++ aadd
      val bNew = (bb.diff(bdel)) ++ badd
      val expect = aNew.flatMap { case (ka, aid) =>
        val ms = bNew.filter(_._1 == ka)
        if (ms.isEmpty) Seq((ka, aid, -999L))
        else ms.map { case (_, bid) => (ka, aid, bid) }
      }.sorted
      got == expect
    })
  }

  test("StreamingIvm.applyBatch with extremes and a sketch ≡ recompute after every insert-only batch; re-delivery changes nothing") {
    import graft.functions.Kmv
    import graft.streaming.StreamingIvm
    // (k, v_micro, uid): NULL grain keys, NULL values, and a tiny uid
    // domain so values repeat within and across batches
    val genRow = for {
      k <- Gen.option(Gen.choose(0L, 2L))
      v <- Gen.option(Gen.choose(-20L, 20L))
      uid <- Gen.option(Gen.choose(0L, 5L))
    } yield (k, v, uid)
    val genBatches = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 6).flatMap(m => Gen.listOfN(m, genRow))))
    type Agg = (Long, Long, Option[Long], Option[Long], Option[Long], Seq[Long])
    def opt(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    def byKey(df: org.apache.spark.sql.DataFrame): Map[Option[Long], Agg] =
      df.collect().map(r => opt(r, "k") -> ((r.getAs[Long]("cnt"),
        r.getAs[Long]("n_nonnull"), opt(r, "sum_micro"),
        opt(r, "min_micro"), opt(r, "max_micro"),
        r.getSeq[Long](r.fieldIndex("kmv_distinct")).sorted))).toMap
    def rows(b: List[(Option[Long], Option[Long], Option[Long])]) =
      b.map { case (k, v, u) => (k, v, u, 1L) }.toDF("k", "v_micro", "uid", "sign")
    check(Prop.forAll(genBatches) { batches =>
      val state = tmpDir("ivm-law")
      def fold(b: List[(Option[Long], Option[Long], Option[Long])], id: Long) =
        StreamingIvm.applyBatch(spark, state, Seq("k"), extremes = true,
          distinctCol = Some("uid"))(rows(b), id)
      def folded = byKey(StreamingIvm.readState(spark, state).get)
      def recompute(upTo: Int) = byKey(Kmv.withHash(
          rows(batches.take(upTo).flatten), "uid", "__h")
        .groupBy("k").agg(count(lit(1)).as("cnt"),
          count(col("v_micro")).as("n_nonnull"),
          sum(col("v_micro")).as("sum_micro"),
          min(col("v_micro")).as("min_micro"),
          max(col("v_micro")).as("max_micro"),
          collect_set(col("__h")).as("kmv_distinct")))
      val everyBatch = batches.zipWithIndex.forall { case (b, i) =>
        fold(b, i.toLong)
        folded == recompute(i + 1)
      }
      fold(batches.last, batches.size - 1L)
      everyBatch && folded == recompute(batches.size)
    })
  }
}
