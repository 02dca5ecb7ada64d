package graft

import org.apache.spark.CheckpointDirs.withCheckpointDir
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operator semantics on hand-built corpora. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different content about spark engines here"),
    (5L, "the  quick   brown fox jumps over the lazy dog") // whitespace variant
  ).toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized copies under the min id") {
    val survivors = Dedup.exact(corpus).collect()
    assert(survivors.length === 3) // {1,2,5}, {3}, {4}
    val big = survivors.find(_.getAs[Long]("n_copies") === 3L).get
    assert(big.getAs[Long]("survivor_id") === 1L)
  }

  test("ngram Jaccard finds the near-dup pair and scores it exactly") {
    val pairs = Dedup.ngramJaccardPairs(corpus, 3, 0.5)
      .filter(col("doc_a") === 1 && col("doc_b") === 3).collect()
    assert(pairs.length === 1)
    // 9 words → 7 shingles each; 6 shared ⇒ J = 6/(7+7-6) = 0.75
    assert(pairs.head.getAs[Double]("jaccard") === 0.75)
  }

  test("minhash LSH returns the same pairs as the exact join at threshold 0.5") {
    val exact = Dedup.ngramJaccardPairs(corpus, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
    assert(exact.contains((1L, 2L)) && exact.contains((1L, 3L)))
  }

  test("shingle frequency cap: no-op when cap ≥ max df; hot shingles stop pairing when capped") {
    // every corpus shingle has df ≤ 4 (docs {1,2,5} are copies and share
    // 6 shingles with near-dup 3), so a cap of 4 must be byte-identical
    // to the uncapped run
    val uncapped = Dedup.ngramJaccardPairs(corpus, 3, 0.5)
      .collect().map(_.toSeq).toSet
    val capped = Dedup.ngramJaccardPairs(corpus, 3, 0.5, maxShingleDocFreq = 4)
      .collect().map(_.toSeq).toSet
    assert(capped === uncapped)

    // a boilerplate shingle shared by ALL docs (the f² scale-killer):
    // docs overlap ONLY in the boilerplate → capping at df < 4 removes it
    // from the index and the spurious pairs disappear
    val boiler = Seq(
      (1L, "subscribe to our newsletter alpha unique words one"),
      (2L, "subscribe to our newsletter beta other tokens two"),
      (3L, "subscribe to our newsletter gamma more content three"),
      (4L, "subscribe to our newsletter delta extra filler four")
    ).toDF("doc_id", "text")
    val hot = Dedup.ngramJaccardPairs(boiler, 3, 0.1).count()
    assert(hot > 0) // boilerplate alone creates pairs
    val cold = Dedup.ngramJaccardPairs(boiler, 3, 0.1, maxShingleDocFreq = 3).count()
    assert(cold === 0L)
  }

  test("simhash: identical docs at distance 0, near dups closer than distinct docs") {
    val pairs = Dedup.simhashPairs(corpus, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(pairs((1L, 2L)) === 0) // identical text → identical signature
    assert(pairs((1L, 5L)) === 0) // whitespace-normalized copy
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
    // For a 9-token doc a 1-token change flips many sign-marginal bits, so
    // hamming(near-dup) can exceed 3 — assert the ORDER is right instead:
    // signature distance near-dup < distinct-doc.
    val sig = Dedup.simhashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sig(a) ^ sig(b))
    assert(ham(1L, 3L) < ham(1L, 4L))
  }

  test("connected components: chains close transitively, singletons keep their own id") {
    // component {1,2,3,4} is a CHAIN (diameter 3 → multiple propagation
    // rounds), {10,11} a pair, {20} a singleton with no edges
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(vertices, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("incremental dedup scores only cross pairs and matches the all-pairs scores") {
    val base = corpus.filter($"doc_id" <= 3)
    val batch = corpus.filter($"doc_id" > 3)
    val inc = Dedup.incrementalJaccardPairs(base, batch, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 5 (whitespace variant of 1/2) crosses the split; 4 matches
    // nothing; intra-base pairs (1,2),(1,3),(2,3) must NOT appear
    assert(inc.keySet === Set((1L, 5L), (2L, 5L), (3L, 5L)))
    assert(inc((1L, 5L)) === 1.0 && inc((2L, 5L)) === 1.0)
    // cross scores equal the all-pairs run's scores for the same pairs
    val all = Dedup.ngramJaccardPairs(corpus, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inc.forall { case (k, j) => all(k) === j })
  }

  test("duplicateSpans finds aligned repeated windows, not merely duplicate docs") {
    val span = (1 to 4).map(i => s"w$i").mkString(" ") // one 4-word window
    val corpus = Seq(
      (1L, span + " " + (5 to 8).map(i => s"a$i").mkString(" ")), // span + unique tail
      (2L, span + " " + (5 to 8).map(i => s"b$i").mkString(" ")), // same FIRST window, different doc
      (3L, (9 to 16).map(i => s"c$i").mkString(" "))              // no repeats
    ).toDF("doc_id", "text")
    val dups = Dedup.duplicateSpans(corpus, words = 4).collect()
    // exactly the shared leading window is flagged (docs 1 and 2 are
    // NOT whole-doc duplicates)
    assert(dups.length === 1)
    assert(dups.head.getAs[Long]("survivor_id") === 1L)
    assert(dups.head.getAs[Long]("n_copies") === 2L)
  }

  test("maximalDuplicateSpans: arbitrary-offset repeats merge into maximal covered spans (hand-computed)") {
    // l=3 corpus, every span hand-derived:
    //  doc 1 "a b c d e f g h": dup windows {1,2} (shared with doc 2 at
    //        offset 3) and {5} ("e f g" shared with doc 6); window 5
    //        starts exactly prev+l after window 2 → adjacent coverage,
    //        ONE span [1,7]
    //  doc 2 "x y a b c d z w": dup windows {3,4} → span [3,6]
    //  doc 3 "p q r p q r p q r": every window repeats within-doc →
    //        whole-doc span [1,9]
    //  doc 4 "m n": shorter than l → absent
    //  doc 5 "s t u": single unique window → absent
    //  doc 6 "a b c q1 q2 q3 q4 e f g": dup windows {1,8}, gap > l →
    //        TWO spans [1,3] and [8,10]
    val docs = Seq(
      (1L, "a b c d e f g h", "web"),
      (2L, "x y a b c d z w", "web"),
      (3L, "p q r p q r p q r", "web"),
      (4L, "m n", "books"),
      (5L, "s t u", "books"),
      (6L, "a b c q1 q2 q3 q4 e f g", "books")
    ).toDF("doc_id", "text", "source")
    val spans = Dedup.maximalDuplicateSpans(docs, 3)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq === Seq(
      (1L, 1L, 7L, 7L),
      (2L, 3L, 6L, 4L),
      (3L, 1L, 9L, 9L),
      (6L, 1L, 3L, 3L),
      (6L, 8L, 10L, 3L)))

    // removal: first corpus occurrence of each duplicated window keeps
    // its tokens; later copies lose exactly the survivor-uncovered
    // duplicated region. doc 1 holds every survivor → intact; doc 2
    // loses "a b c d"; doc 3 keeps the first repeat + the fragment
    // "p q" (tokens 6-9 removed); docs 4/5 pass through untouched;
    // doc 6 loses both borrowed substrings.
    val removed = Dedup.removeDuplicateSubstrings(docs, 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(removed.toSeq === Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w"),
      (3L, "p q r p q"),
      (4L, "m n"),
      (5L, "s t u"),
      (6L, "q1 q2 q3 q4")))

    val rate = Dedup.substringDupRate(docs, 3)
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rate.toSeq === Seq(
      ("books", 3L, 1L, 6L, 15L),   // only doc 6 has dup mass; 2+3+10 tokens
      ("web", 3L, 3L, 20L, 25L)))   // 7+4+9 dup over 8+8+9 tokens
  }

  test("duplicatedWindows hot-fp split: corpus-wide boilerplate window stays exact and broadcasts, never fp-shuffles") {
    // the license-block case: ONE 3-token window planted in 50% of a
    // 40-doc corpus (20 occurrences — corpus-wide hot), plus a warm
    // pair-shared window (2 occurrences) and unique filler everywhere
    // else. hotFpThreshold=4 forces the boilerplate fp onto the hot
    // path while the warm pair takes the shuffle join.
    val boiler = "lic1 lic2 lic3"
    val docs = (1L to 40L).map { i =>
      val filler = (1 to 5).map(j => s"u${i}_$j").mkString(" ")
      val text =
        if (i <= 20) s"$filler $boiler"           // hot window, offset 6
        else if (i <= 22) s"warm1 warm2 warm3 $filler" // warm pair (21, 22)
        else s"$filler x$i y$i z$i"
      (i, text, "web")
    }.toDF("doc_id", "text", "source")

    // exactness: results are INVARIANT to the threshold — the split
    // run must equal the default run (where nothing is hot) on spans,
    // rate, and removal
    def spans(t: Long) = Dedup.spansFromWindows(
        Dedup.duplicatedWindows(docs, 3, t), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def removed(t: Long) = Dedup.removeSubstringsFromWindows(
        docs, Dedup.duplicatedWindows(docs, 3, t), 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(spans(4L) === spans(Dedup.DefaultHotFpThreshold))
    assert(removed(4L) === removed(Dedup.DefaultHotFpThreshold))
    // sanity of the plant itself: every boilerplate carrier has the
    // [6,8] span, and removal keeps exactly one boilerplate copy
    assert(spans(4L).filter(s => s._1 <= 20) ===
      (1L to 20L).map(i => (i, 6L, 8L)).toSet)
    assert(removed(4L).count(_._2.contains(boiler)) === 1)

    // structure: with the low threshold, the hot fp's 20 occurrence
    // rows take the BROADCAST path (two broadcast joins: hot stats +
    // the anti-join fencing the shuffle side), so no task ever
    // receives the hot key's full occurrence list via an fp-keyed
    // exchange; the warm join is the only fp-partitioned join left
    val split = Dedup.duplicatedWindows(docs, 3, 4L)
    val physical = split.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(physical).size >= 2,
      s"expected hot-path broadcast joins in:\n$physical")
    // default threshold (nothing hot): the broadcast branches are
    // still in the plan but carry zero rows — same single warm join
    assert(split.count() ===
      Dedup.duplicatedWindows(docs, 3).count())
  }

  test("duplicatedWindowsIncremental ≡ batch recompute, including the 1→2 singleton crossing") {
    // base: doc 1 carries window "s1 s2 s3" ONCE (a singleton — absent
    // from any duplicates-only index) and docs 2/3 share "d1 d2 d3";
    // batch: doc 10 re-uses the base singleton (the 1→2 crossing: BOTH
    // occurrences must surface), doc 11 pairs internally with doc 12,
    // doc 13 is all-unique
    val base = Seq(
      (1L, "s1 s2 s3 a1 a2 a3"),
      (2L, "b1 d1 d2 d3 b2 b3"),
      (3L, "c1 c2 d1 d2 d3 c3")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x1 x2 s1 s2 s3 x3"),
      (11L, "e1 e2 e3 f1 f2 f3"),
      (12L, "g1 e1 e2 e3 g2 g3"),
      (13L, "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
    val full = base.unionByName(batch)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val inc = Dedup.duplicatedWindowsIncremental(
      Dedup.allWindows(base, 3), Dedup.windowStats(Dedup.allWindows(base, 3)),
      batch, 3)
    assert(key(inc) === key(Dedup.duplicatedWindows(full, 3)))
    // the crossing is present from BOTH sides, survivor = the base copy
    val sRows = inc.filter(col("doc_id").isin(1L, 10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(sRows.toSet === Set((1L, 1L, 1L, 1L), (10L, 3L, 1L, 1L)))
    // downstream consumers apply unchanged: spans of the union match
    // the batch-recomputed spans
    val incSpans = Dedup.spansFromWindows(inc, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fullSpans = Dedup.maximalDuplicateSpans(full, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incSpans === fullSpans)
    // stats merge itself is exact (counts add, survivor is global min)
    val merged = Dedup.mergeWindowStats(
        Dedup.windowStats(Dedup.allWindows(base, 3)),
        Dedup.windowStats(Dedup.allWindows(batch, 3)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val direct = Dedup.windowStats(Dedup.allWindows(full, 3))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(merged === direct)
  }

  test("persisted LSH band index: batch probe finds exactly the exact-Jaccard pairs touching the batch; bands read bucketed") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val keep = graft.operators.Curation.hashKeep(col("doc_id"), "inc", 12)
    val base = docs.filter(keep)
    val batch = docs.filter(!keep)
    Dedup.writeLshIndex(base, 3, "linc_idx", buckets = 8)
    try {
      val got = Dedup.incrementalMinhashLshPairs(
          spark, "linc_idx", base, batch, 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      // expected: every exact pair touching the batch (cross + intra)
      val keepIds = base.select("doc_id").collect().map(_.getLong(0)).toSet
      val expected = Dedup.ngramJaccardPairs(docs, 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .filterNot { case ((a, b), _) => keepIds(a) && keepIds(b) }
        .toMap
      assert(got === expected)
      assert(expected.nonEmpty) // non-vacuous on the planted corpus
      // the band table is read through its buckets. Since r19 the
      // candidate set is an eager localCheckpoint (materialized at
      // construction), so the probe join is no longer visible in the
      // RETURNED pairs plan — assert the bucketed read on the probe
      // shape itself: the persisted band table joined on its bucket
      // key (band, bh), exactly how incrementalMinhashLshPairs probes.
      // autoBucketedScan is disabled for the assertion: at fixture size
      // the planner both broadcasts the tiny probe side and (in a
      // stand-alone plan) drops bucketed reading as "unnecessary" —
      // forcing the bucketed scan proves the table IS written bucketed
      // on the probe key, which is the 100 TB property (a shuffle join
      // at scale reads the matching buckets directly, BucketingSpec).
      val prevAuto = spark.conf
        .get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      try {
        spark.conf
          .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        val probe = spark.table("linc_idx_bands")
          .join(Dedup.lshBuckets(
              Dedup.minhashSignatureArray(batch, 3, 64), 16, 4),
            Seq("band", "bh"))
        val plan = probe.queryExecution.executedPlan.toString
        assert(plan.contains("SelectedBucketsCount"), plan)
      } finally spark.conf
        .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally {
      spark.sql("DROP TABLE IF EXISTS linc_idx_bands")
      spark.sql("DROP TABLE IF EXISTS linc_idx_bandsizes")
    }
  }

  // the quadratic LSH pathology: identical signatures put a cohort of
  // docs into ONE (band, bh) bucket per band, f² candidate pairs on one
  // join key (VERDICT r13 "what's wrong #1") — plus disjoint normal
  // near-dup pairs that must survive any cap
  private def degenerateLshCorpus(nBoiler: Int) = {
    val boiler = (1 to nBoiler).map(i => (i.toLong,
      "the big degenerate bucket of identical boilerplate text rows here"))
    val pairs = (0 until 5).flatMap { k =>
      val a = 100L + 2 * k
      Seq((a, s"unique pair nr$k alpha beta gamma delta epsilon zeta eta theta"),
        (a + 1, s"unique pair nr$k alpha beta gamma delta epsilon zeta eta iota"))
    }
    (boiler ++ pairs).toDF("doc_id", "text")
  }

  test("LSH band-bucket cap: no-op when cap ≥ max bucket; degenerate-bucket pairs drop when capped, normal pairs survive") {
    val docs = degenerateLshCorpus(40)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairSet(Dedup.minhashLshPairs(docs, 3, 0.5))
    val boilerPairs = (for {
      a <- 1 to 40; b <- (a + 1) to 40 } yield (a.toLong, b.toLong)).toSet
    val normalPairs = (0 until 5).map(k => (100L + 2 * k, 101L + 2 * k)).toSet
    assert(boilerPairs.subsetOf(uncapped)) // the pathology is really planted
    assert(normalPairs.subsetOf(uncapped))
    // cap ≥ the max bucket population (40 identical docs) ⇒ identical output
    val atCap = pairSet(Dedup.minhashLshPairs(docs, 3, 0.5,
      maxBandBucketSize = 40))
    assert(atCap === uncapped)
    // cap below the cohort drops EVERY degenerate bucket (all bands hot for
    // identical signatures) and ONLY those: normal pairs' buckets hold 2 docs
    val capped = pairSet(Dedup.minhashLshPairs(docs, 3, 0.5,
      maxBandBucketSize = 10))
    assert(capped === uncapped -- boilerPairs)
    assert(normalPairs.subsetOf(capped))
  }

  test("incremental LSH band-bucket cap: persisted sizes table fences the COMBINED (base+batch) hot bucket") {
    val docs = degenerateLshCorpus(40)
    // boiler cohort split 30 base / 10 batch; each normal pair split a/b
    val base = docs.filter(col("doc_id") <= 30 ||
      (col("doc_id") >= 100 && col("doc_id") % 2 === 0))
    val batch = docs.filter((col("doc_id") > 30 && col("doc_id") < 100) ||
      (col("doc_id") >= 100 && col("doc_id") % 2 === 1))
    Dedup.writeLshIndex(base, 3, "lcap_idx", buckets = 8)
    try {
      assert(spark.catalog.tableExists("lcap_idx_bandsizes"))
      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val uncapped = pairSet(Dedup.incrementalMinhashLshPairs(
        spark, "lcap_idx", base, batch, 3, 0.5))
      val crossBoiler = (for { a <- 1 to 30; b <- 31 to 40 }
        yield (a.toLong, b.toLong)).toSet
      val intraBoiler = (for { a <- 31 to 40; b <- (a + 1) to 40 }
        yield (a.toLong, b.toLong)).toSet
      val normalPairs = (0 until 5).map(k => (100L + 2 * k, 101L + 2 * k)).toSet
      assert((crossBoiler ++ intraBoiler ++ normalPairs).subsetOf(uncapped))
      // combined bucket population 30 (base, read from the persisted
      // sizes table) + 10 (batch) = 40 > 10 ⇒ dropped from BOTH sides;
      // normal pairs sit in 2-doc buckets and survive
      val capped = pairSet(Dedup.incrementalMinhashLshPairs(
        spark, "lcap_idx", base, batch, 3, 0.5, maxBandBucketSize = 10))
      assert(capped === uncapped -- crossBoiler -- intraBoiler)
      assert(normalPairs.subsetOf(capped))
      // cap 35: EACH side alone is under it (base 30, batch 10) — a
      // per-side fence would keep the bucket and emit 300 cross
      // candidates on one key; the combined 40 > 35 sizing drops it
      val capped35 = pairSet(Dedup.incrementalMinhashLshPairs(
        spark, "lcap_idx", base, batch, 3, 0.5, maxBandBucketSize = 35))
      assert(capped35 === capped)
    } finally {
      spark.sql("DROP TABLE IF EXISTS lcap_idx_bands")
      spark.sql("DROP TABLE IF EXISTS lcap_idx_bandsizes")
    }
  }

  test("persisted ExactSubstr index: identical windows, bucketed base scans, single batch-side fp shuffle in the stats merge") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val keep = graft.operators.Curation.hashKeep(col("doc_id"), "sinc", 12)
    val base = docs.filter(keep)
    val batch = docs.filter(!keep)
    Dedup.writeSubstrIndex(base, 8, "sinc_idx", buckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val oldSp = spark.conf.get("spark.sql.shuffle.partitions")
    // size shuffle partitions to the bucket count — the documented
    // bucketed-join practice; the batch side then shuffles ONCE
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val fromIdx = Dedup.duplicatedWindowsFromIndex(
        spark, "sinc_idx", batch, 8)
      val plan = fromIdx.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan)
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      val expected = key(Dedup.duplicatedWindows(
        base.unionByName(batch), 8))
      assert(key(fromIdx) === expected)
      assert(expected.nonEmpty) // non-vacuous on the planted corpus
      // the focused claim: merging batch stats into the bucketed stats
      // table shuffles the BATCH side exactly once; the base side reads
      // its buckets with zero exchange
      val probe = Dedup.mergeWindowStats(spark.table("sinc_idx_stats"),
        Dedup.windowStats(Dedup.allWindows(batch, 8)))
      val pplan = probe.queryExecution.executedPlan.toString
      assert(pplan.contains("SelectedBucketsCount"), pplan)
      assert(pplan.linesIterator
        .count(_.contains("Exchange hashpartitioning(fp")) === 1, pplan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.shuffle.partitions", oldSp)
      spark.sql("DROP TABLE IF EXISTS sinc_idx_wins")
      spark.sql("DROP TABLE IF EXISTS sinc_idx_stats")
    }
  }

  test("substringDupSensitivity: duplicated token mass is non-increasing in l, exact at each length") {
    // two docs share a 16-token passage; two more share an 8-token
    // passage; one doc repeats a 4-token phrase internally
    val p16 = (1 to 16).map(i => s"p$i").mkString(" ")
    val p8 = (1 to 8).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $p16 a3"),
      (2L, s"b1 $p16 b2 b3"),
      (3L, s"c1 c2 c3 $p8"),
      (4L, s"$p8 d1 d2 d3"),
      (5L, "e1 r1 r2 r3 r4 e2 r1 r2 r3 r4 e3"),
      (6L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")
    ).toDF("doc_id", "text")
    val rep = Dedup.substringDupSensitivity(docs, Seq(4, 8, 16, 32))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rep.map(_._1).toSeq === Seq(4, 8, 16, 32))
    val mass = rep.map(_._4)
    assert(mass.sliding(2).forall(w => w(0) >= w(1)),
      s"dup mass must be non-increasing in l: ${mass.toSeq}")
    // exact at the ends: l=4 covers the 16- and 8-token passages plus
    // the within-doc repeat (2×(4+4+2... hand-check: docs 1,2 → 16 each;
    // docs 3,4 → 8 each; doc 5 → both r1..r4 runs covered = 8; l=32
    // finds nothing
    assert(rep(0)._4 === 16L + 16L + 8L + 8L + 8L)
    assert(rep(3) === ((32, 0L, 0L, 0L)))
    // l=16: only the shared 16-token passage qualifies
    assert(rep(2)._4 === 32L && rep(2)._3 === 2L)
  }

  test("removeDuplicateSpans: shared header kept once, within-doc repeats collapsed, empty shells absent") {
    val corpus = Seq(
      (1L, "h1 h2 h3 h4 a b c d"), // header + unique tail — keeps everything
      (2L, "h1 h2 h3 h4 x y z w"), // same header — loses it, keeps the tail
      (3L, "r r r r r r r r"),     // one chunk repeated within the doc
      (4L, "h1 h2 h3 h4")          // NOTHING but the shared header — fully removed
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, words = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      1L -> "h1 h2 h3 h4 a b c d",
      2L -> "x y z w",
      3L -> "r r r r"))
  }

  test("persisted incremental index: identical pairs, base side scans bucketed with zero exchange") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val keep = graft.operators.Curation.hashKeep(col("doc_id"), "inc", 12)
    val base = docs.filter(keep)
    val batch = docs.filter(!keep)
    Dedup.writeShingleIndex(base, 3, "inc_idx", buckets = 8)
    // force a sort-merge join so only bucketing can remove the
    // base-side shuffle (a broadcast would hide it)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fromIdx = Dedup.incrementalJaccardPairsFromIndex(
        spark, "inc_idx", batch, 3, 0.8)
      val plan = fromIdx.queryExecution.executedPlan.toString
      // the index is read through its buckets ...
      assert(plan.contains("SelectedBucketsCount"), plan)
      // ... and only the BATCH side shuffles into the shingle join
      assert(plan.linesIterator
        .count(_.contains("Exchange hashpartitioning(shingle")) === 1, plan)
      // output contract: pair-for-pair identical to the inline variant
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val expected = pairs(Dedup.incrementalJaccardPairs(base, batch, 3, 0.8))
      assert(pairs(fromIdx) === expected)
      assert(expected.nonEmpty) // non-vacuous on the planted corpus
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS inc_idx_shingles")
      spark.sql("DROP TABLE IF EXISTS inc_idx_sizes")
    }
  }

  test("alternating (large-star/small-star) CC matches propagation on chains, cliques, forests, and random graphs") {
    def labels(vertices: Seq[Long], pairs: Seq[(Long, Long)],
               alg: String): Map[Long, Long] = {
      val v = vertices.toDF("doc_id")
      val e = pairs.toDF("doc_a", "doc_b")
      val out = alg match {
        case "prop" => Dedup.connectedComponents(v, "doc_id", e)
        case "star" => Dedup.connectedComponentsAlternating(v, "doc_id", e)
      }
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // 24-node chain: diameter 23 — the adversarial case for propagation,
    // where O(log n) star contraction is the point of this variant
    val chainV = (1L to 24L)
    val chainE = (1L until 24L).map(i => (i, i + 1))
    // two cliques bridged by one edge + singletons
    val cliqV = (1L to 11L)
    val cliqE = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) ++
      (for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)) :+ (4L -> 5L)
    // seeded random graph: 40 nodes, 45 edges (multiple components,
    // duplicate and reversed pairs included deliberately)
    val rnd = new scala.util.Random(7)
    val randV = (0L until 40L)
    val randE = Seq.fill(45)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    // empty edge set: every vertex is its own component
    val loneV = (1L to 5L)
    for ((v, e) <- Seq((chainV, chainE), (cliqV, cliqE),
                       (randV, randE), (loneV, Seq.empty[(Long, Long)]))) {
      assert(labels(v, e, "star") === labels(v, e, "prop"))
    }
    // chain sanity: one component rooted at 1
    assert(labels(chainV, chainE, "star").values.toSet === Set(1L))
  }

  test("incremental CC: batch update merges across old clusters and equals full re-clustering") {
    val baseV = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val basePairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val baseLabels = Dedup.connectedComponents(baseV, "doc_id", basePairs)
    // batch doc 30 bridges BOTH old clusters; 31 rides along; 40 is a
    // batch singleton; base singleton 20 stays untouched
    val batchV = Seq(30L, 31L, 40L).toDF("doc_id")
    val newPairs = Seq((3L, 30L), (11L, 30L), (30L, 31L)).toDF("doc_a", "doc_b")
    val inc = Dedup.incrementalConnectedComponents(
        baseLabels, batchV, "doc_id", newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(baseV.union(batchV), "doc_id",
        basePairs.union(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    // the bridge really merged: everything except the singletons is 1
    assert(inc.filterNot(kv => kv._1 == 20L || kv._1 == 40L)
      .values.toSet === Set(1L))
    assert(inc(20L) === 20L && inc(40L) === 40L)
  }

  test("incremental CC: a re-crawled id (in base AND batch) gets exactly one label") {
    val baseV = Seq(1L, 2L, 5L).toDF("doc_id")
    val basePairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val baseLabels = Dedup.connectedComponents(baseV, "doc_id", basePairs)
    // doc 2 is re-crawled (appears in the batch again) alongside a truly
    // new doc 30 that pairs with it; base singleton 5 is also re-crawled
    // with no new pairs
    val batchV = Seq(2L, 5L, 30L).toDF("doc_id")
    val newPairs = Seq((2L, 30L)).toDF("doc_a", "doc_b")
    val inc = Dedup.incrementalConnectedComponents(
      baseLabels, batchV, "doc_id", newPairs).collect()
    // one row per id — the overlap must not produce conflicting labels
    assert(inc.length === inc.map(_.getLong(0)).distinct.length)
    val m = inc.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 30L -> 1L))
  }

  test("alternating CC: an already-star-forest input exits on the direct " +
    "star test (r19 probe) in zero contraction rounds, labels correct") {
    // edges are already min-rooted stars: {1→2,3,4} and {10→11}, plus
    // singleton 20. The r19 convergence probe tests the star property
    // directly, so this input needs ZERO contraction rounds —
    // observable as a clean exit at maxRounds = 0, where the old
    // fingerprint-across-rounds scheme (which needed one full round
    // just to observe the repeat) threw "did not converge".
    val v = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsAlternating(v, "doc_id", e,
        maxRounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("alternating CC refuses to emit labels when the round cap cuts convergence short") {
    // a 24-node chain needs several contraction rounds; maxRounds = 1
    // leaves a non-fixed-point edge set — the old code silently emitted
    // wrong/duplicate labels here, now it must throw
    val v = (1L to 24L).toDF("doc_id")
    val e = (1L until 24L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponentsAlternating(v, "doc_id", e, maxRounds = 1)
        .collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // with the default cap the same graph converges and labels cleanly
    val ok = Dedup.connectedComponentsAlternating(v, "doc_id", e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet === Set(1L))
  }

  test("connected components with a reliable checkpoint dir: same labels, lineage anchored on checkpoint files") {
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val dir = tmpDir("cc-ckpt")
    val reliable = withCheckpointDir(dir) {
      Dedup.connectedComponents(vertices, "doc_id", pairs)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val got = reliable.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // fault-tolerance contract: the final label table's RDD lineage is
    // rooted at reliable checkpoint files (survives executor loss — a
    // recompute replays from these files, never from the raw pair join),
    // and the files really are on the requested storage.
    assert(reliable.rdd.toDebugString.contains("ReliableCheckpointRDD"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(new java.io.File(dir)).exists(_.getName.startsWith("part-")))
  }

  test("connected components on the corpus pair graph: copies cluster under the min id") {
    // {1,2,5} are exact/near copies and 3 is a near-dup of all of them
    // at J = 0.75 < 0.8... at threshold 0.5 all four join one cluster
    val pairs = Dedup.ngramJaccardPairs(corpus, 3, 0.5)
    val comp = Dedup.connectedComponents(corpus.select("doc_id"), "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 4L -> 4L))
  }

  test("minhash signature width = bands × rows and is stable across runs") {
    val sig1 = Dedup.minhashSignatures(corpus, 3, 8).orderBy("doc_id").collect()
    val sig2 = Dedup.minhashSignatures(corpus, 3, 8).orderBy("doc_id").collect()
    assert(sig1.head.schema.fieldNames.length === 9) // doc_id + 8 hashes
    assert(sig1.map(_.toSeq).toSeq === sig2.map(_.toSeq).toSeq)
  }
}
