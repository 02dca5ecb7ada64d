package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.core.Materialize
import graft.functions.TextFunctions

/** Iterated BPE merge training at corpus scale — the loop behind every
  * subword tokenizer (Sennrich et al. 2016), of which the gated
  * `text_bpe_pairs` entry is round 1's pair-statistics half.
  *
  * Scale design: all per-round work runs over the DISTINCT-vocabulARY
  * table (word → corpus frequency), never the corpus — after the one
  * corpus-sized token count, each round is (a) one aggregate over
  * Σ|word| symbol pairs weighted by word freq, (b) a driver readout of
  * exactly ONE row (the argmax pair — the same bounded-readout contract
  * as HeavyHitters), and (c) a map-side fold rewriting each word's
  * symbol array left-to-right. Vocabulary tables are materialized
  * per round: k rounds otherwise stack k nested HOF folds into one
  * expression tree and the plan, not the data, becomes the bottleneck.
  *
  * Merge application is the standard greedy left-to-right scan: the
  * freshly merged symbol participates as the LEFT side of the next
  * window (so merge (a,a) turns "aaaa" into [aa, aa], and "aaa" into
  * [aa, a]), which is exactly the fold `acc.last == l && x == r`.
  * Pair counting counts every adjacent position ("aaa" contributes
  * (a,a) twice), matching the reference BPE implementations.
  *
  * Ties break (count desc, left asc, right asc) — fully deterministic
  * merge tables across runs and engines.
  */
object Bpe {

  /** One trained merge: the pair, its count at selection time, and the
    * round (1-based). */
  final case class Merge(left: String, right: String, n: Long, round: Int)

  /** Char-split symbol vocabulary of a corpus: (syms: array<string>,
    * freq: bigint), one row per DISTINCT word. */
  def symbolVocab(docs: DataFrame): DataFrame =
    docs.select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(split(col("tok"), "").as("syms"), col("freq"))

  /** Weighted adjacent-pair counts of a vocab table: (l, r, n), every
    * adjacency counted ("aaa" contributes (a,a) twice). */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("l"),
          element_at(col("syms"), i + 1).as("r")))).as("p"), col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))

  private def argmaxPair(pairs: DataFrame): Option[(String, String, Long)] =
    pairs
      .orderBy(desc("n"), asc("l"), asc("r"))
      .limit(1).collect()
      .headOption.map(row => (row.getString(0), row.getString(1), row.getLong(2)))

  /** The most frequent adjacent symbol pair of a vocab table, with its
    * weighted count — None when no word has two symbols left. */
  def topPair(vocab: DataFrame): Option[(String, String, Long)] =
    argmaxPair(pairCounts(vocab))

  /** [[topPair]] restricted to non-self pairs (l ≠ r) — the candidate
    * set of the REPLAY-CHECKABLE trainer ([[trainReplayable]]): the
    * replace∘replace ≡ fold equivalence ([[replaceFoldSql]]) holds only
    * for l ≠ r, so a trainer whose every selected merge is provably
    * non-self is the largest variant a plain-SQL oracle can replay
    * round-for-round. Counts are unchanged — only the argmax candidate
    * set shrinks. */
  def topPairNonSelf(vocab: DataFrame): Option[(String, String, Long)] =
    argmaxPair(pairCounts(vocab).filter(col("l") =!= col("r")))

  /** Greedy left-to-right application of one merge to a symbol array
    * column. `get(acc, size-1)` is the null-safe last-element read: on
    * the empty accumulator it yields null and the when simply doesn't
    * fire — no reliance on conjunct short-circuiting. */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast(ArrayType(StringType)),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Apply an ordered merge table to a distinct-token table
    * ((tok: string) → (tok, syms)): the encode side of the tokenizer.
    * Merges fold in training order; every fourth round the table is
    * materialized so long merge lists don't nest unboundedly many
    * HOF folds in one expression tree. */
  def encodeVocab(toks: DataFrame, merges: Seq[Merge]): DataFrame = {
    var v = toks.select(col("tok"), split(col("tok"), "").as("syms"))
    merges.zipWithIndex.foreach { case (m, i) =>
      v = v.select(col("tok"), applyMerge(col("syms"), m.left, m.right).as("syms"))
      if ((i + 1) % 4 == 0) v = Materialize(v)
    }
    v
  }

  /** Encode the corpus with a trained merge table: (doc_id, syms) where
    * syms is the doc's token stream expanded to BPE symbols in token
    * order. The merge fold runs over the DISTINCT vocabulary once; the
    * corpus then equi-joins its tokens to the encoded vocab (AQE
    * broadcasts a small vocab; a web-scale one shuffle-joins on the
    * token — either way the per-token fold work is paid per distinct
    * word, not per corpus occurrence). */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val vocab = encodeVocab(
      docs.select(explode(TextFunctions.tokens(col("text"))).as("tok")).distinct(),
      merges)
    docs
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .join(vocab, "tok")
      .groupBy("doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        x => x.getField("syms"))).as("syms"))
  }

  /** Train `k` merges over the corpus. Returns the ordered merge table
    * (possibly shorter than k if the vocabulary runs dry) and the final
    * symbolized vocabulary. */
  def train(docs: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    require(k >= 1, s"need at least one merge round, got $k")
    var vocab = Materialize(symbolVocab(docs))
    val merges = Seq.newBuilder[Merge]
    var round = 1
    var dry = false
    while (round <= k && !dry) {
      topPair(vocab) match {
        case None => dry = true
        case Some((l, r, n)) =>
          merges += Merge(l, r, n, round)
          vocab = Materialize(vocab
            .select(applyMerge(col("syms"), l, r).as("syms"), col("freq")))
          round += 1
      }
    }
    (merges.result(), vocab)
  }

  /** Train `k` merges with self-pairs EXCLUDED from the candidate set —
    * the replay-checkable constrained trainer behind the
    * `text_bpe_train` gate. Identical to [[train]] except each round's
    * argmax runs over l ≠ r pairs only (counts unchanged), which is
    * exactly the constraint under which [[replaceFoldSql]]'s
    * replace∘replace ≡ fold equivalence lets a plain-SQL oracle replay
    * the WHOLE training loop round-for-round ([[trainReplaySql]]).
    * Production tokenizers that want self-merges use the unconstrained
    * [[train]] (spec-covered); on natural-language corpora the argmax
    * is virtually never a self-pair, so the two trainers coincide.
    *
    * Scale shape is [[train]]'s: per round one aggregate over the
    * DISTINCT vocabulary, a 1-row driver readout, a map-side fold, and
    * a materialization to keep k rounds from nesting k HOF folds in one
    * expression tree. */
  def trainReplayable(docs: DataFrame, k: Int): Seq[Merge] = {
    require(k >= 1, s"need at least one merge round, got $k")
    var vocab = Materialize(symbolVocab(docs))
    val merges = Seq.newBuilder[Merge]
    var round = 1
    var dry = false
    while (round <= k && !dry) {
      topPairNonSelf(vocab) match {
        case None => dry = true
        case Some((l, r, n)) =>
          merges += Merge(l, r, n, round)
          vocab = Materialize(vocab
            .select(applyMerge(col("syms"), l, r).as("syms"), col("freq")))
          round += 1
      }
    }
    merges.result()
  }

  /** DuckDB oracle replaying [[trainReplayable]] end-to-end: k unrolled
    * round blocks, each (a) counting adjacent non-self pairs of the
    * space-bracketed string vocabulary, (b) selecting the argmax with
    * the same (n desc, l asc, r asc) tie-break, and (c) applying the
    * merge via the two-pass string replace that [[replaceFoldSql]]
    * proves ≡ the greedy fold for l ≠ r. Output: one (round, lhs, rhs,
    * n) row per trained merge, so the gate hash certifies the full
    * merge TABLE — selection order, tie-breaks, and counts — not just a
    * final encoding. A round that runs dry yields an empty t_i and
    * every later block stays empty, matching the Scala loop's early
    * stop. */
  def trainReplaySql(k: Int): String = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (
         |    SELECT a[j] AS l, a[j+1] AS r, SUM(freq) AS n
         |    FROM (SELECT str_split(seq, ' ') AS a, freq FROM $prev),
         |         LATERAL unnest(generate_series(2, len(a)-2)) AS t(j)
         |    WHERE len(a) >= 4 AND a[j] <> a[j+1]
         |    GROUP BY 1, 2),
         |  t$i AS (
         |    SELECT $i AS round, l, r, CAST(n AS BIGINT) AS n
         |    FROM p$i ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         |  v$i AS (
         |    SELECT replace(replace(v.seq,
         |             ' '||t.l||' '||t.r||' ', ' '||t.l||t.r||' '),
         |             ' '||t.l||' '||t.r||' ', ' '||t.l||t.r||' ') AS seq,
         |           v.freq
         |    FROM $prev v CROSS JOIN t$i t)""".stripMargin
    }
    val rounds = (1 to k).map(round).mkString(",\n  ")
    val union = (1 to k).map(i => s"SELECT * FROM t$i").mkString(" UNION ALL ")
    raw"""WITH v0 AS (
         |    SELECT (' ' || regexp_replace(tok, '(.)', '\1 ', 'g')) AS seq,
         |           CAST(COUNT(*) AS BIGINT) AS freq
         |    FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
         |          FROM documents WHERE trim(text) <> '')
         |    GROUP BY 1),
         |  $rounds
         |  SELECT CAST(round AS BIGINT) AS round, l AS lhs, r AS rhs, n
         |  FROM ($union)
         |  ORDER BY round""".stripMargin
  }

  /** Fixed merge table for the oracle-checked tokenizer-APPLY gate
    * (`text_bpe_encode`): in a production pipeline the merge list is
    * tokenizer config shipped WITH the model, not something re-learned
    * per query — so the gate treats it as input, exactly as a user
    * would, and [[train]]-produced tables remain spec-covered
    * (BpeSpec). Every pair has left ≠ right, which is what licenses
    * the oracle's string-replace formulation (see
    * [[replaceFoldEquivalence]]). Order matters: merges apply in rank
    * order, and later pairs reference earlier merged symbols. */
  val FixedMerges: Seq[Merge] = Seq(
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("r", "o"), ("ro", "w"),
    ("i", "n"), ("o", "w"), ("e", "r"))
    .zipWithIndex.map { case ((l, r), i) => Merge(l, r, 0L, i + 1) }

  /** Why a plain-SQL oracle can check the greedy array fold
    * ([[applyMerge]]) at all — the equivalence the `text_bpe_encode`
    * gate rests on, pinned by a randomized law in PropertySpec:
    *
    * Represent a symbol sequence as ' s1 s2 … sk ' (space-joined,
    * space-bracketed; symbols never contain spaces). For a merge
    * (l, r) with l ≠ r:
    *
    *  1. (l, r) adjacencies are pairwise DISJOINT — two overlapping
    *     occurrences would need the shared symbol to be both r and l —
    *     so the left-to-right fold merges every one of them, and a
    *     freshly merged 'lr' can never seed a new (l, r) adjacency
    *     (r is a strict suffix of 'lr', l isn't 'lr').
    *  2. `replace(seq, ' l r ', ' lr ')` (leftmost, non-overlapping)
    *     merges an adjacency unless its LEADING space was consumed as
    *     the trailing space of the previous replacement — which
    *     happens exactly for …l r l r… chains, where alternate
    *     occurrences are skipped.
    *  3. Every skipped occurrence is therefore flanked by freshly
    *     merged 'lr' symbols, so no two skipped occurrences share a
    *     boundary space — a SECOND identical replace merges all of
    *     them, and nothing else (by 1., no new adjacencies exist).
    *
    * Hence replace∘replace ≡ fold for l ≠ r, per merge, and by
    * induction over the rank-ordered merge list the whole encode
    * agrees. (For l = r the fold re-merges runs the string form cannot
    * — '…aa a aa…' after pass 1 of (a,a) on a 6-run — which is why
    * [[FixedMerges]] excludes self-pairs and the builder enforces it.)
    *
    * Returns the SQL expression applying `merges` to `base` (an
    * expression producing the bracketed char-split form), with two
    * replace passes per merge. Shared verbatim by the Spark plan
    * (`expr`) and the DuckDB oracle — replace() semantics are
    * identical in both engines.
    */
  def replaceFoldSql(base: String, merges: Seq[Merge]): String =
    merges.foldLeft(base) { (acc, m) =>
      require(m.left != m.right,
        s"replace-fold oracle requires left != right, got ${m.left}")
      val once = s"replace($acc, ' ${m.left} ${m.right} ', ' ${m.left}${m.right} ')"
      s"replace($once, ' ${m.left} ${m.right} ', ' ${m.left}${m.right} ')"
    }
}
