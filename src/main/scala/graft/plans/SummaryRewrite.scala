package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, ExprId, Expression, If, IsNull, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Materialized-summary registry: base table path → its maintained
  * per-key aggregate (the table [[graft.pipeline.IncrementalFinal
  * .maintainAggregate]] keeps current). Registering here is the
  * caller's promise that the summary IS current — maintenance is the
  * IVM pair's job; this registry only routes.
  *
  * `mv` is a thunk so every rewrite gets a freshly-analyzed plan
  * (fresh attribute ids — reusing one analyzed plan across rewrites
  * would collide exprIds if a query hits the rule twice). */
object MvRegistry {

  /** `groupCols`: the summary's grain (composite grains supported —
    * order is not significant, grouping columns match by NAME);
    * `cntCol`: its row count; `sums`/`nns`/`mins`/`maxs`: base column
    * name → summary column holding its SUM / non-null COUNT / MIN /
    * MAX. A base column present in BOTH `sums` and `nns` additionally
    * licenses the AVG rewrite (avg = Σsum / Σnn — avg ignores nulls,
    * so the row count is the WRONG denominator; the nn column is
    * maintainAggregate's nnCol).
    *
    * `distincts`: base column → summary ARRAY<BIGINT> column holding
    * that column's COMPLETE distinct-hash set within the grain (an
    * UNSATURATED [[graft.functions.Kmv]] sketch — every distinct
    * 48-bit md5 hash of the column's non-null values, sorted).
    * Registering here is the caller's claim — VERIFIED, never assumed:
    * [[graft.pipeline.IncrementalFinal.verifiedDistinctLicense]] checks
    * at build time that (a) no grain saturated its sketch, so each
    * array IS the complete set, and (b) the hash is injective on the
    * observed value set — under which COUNT(DISTINCT col) over the base
    * equals the size of the union of the grain sketches at ANY grain
    * coarsening, exactly. A saturated or collision-bearing build must
    * not register the column (route would be approximate); the KMV
    * ESTIMATE regime stays available through explicit queries
    * (`a29_kmv_distinct`), never through transparent routing. */
  final case class Summary(mv: () => DataFrame, groupCols: Seq[String],
                           cntCol: String, sums: Map[String, String],
                           nns: Map[String, String] = Map.empty,
                           mins: Map[String, String] = Map.empty,
                           maxs: Map[String, String] = Map.empty,
                           baseToken: Option[String] = None,
                           rows: Option[Long] = None,
                           distincts: Map[String, String] = Map.empty) {
    require(groupCols.nonEmpty && groupCols.distinct.size == groupCols.size,
      s"summary grain must be non-empty distinct columns, got $groupCols")
  }

  /** Freshness token for a base table: an md5 over the sorted
    * (path, length, mtime) of every data file under `path` — the plain-
    * parquet stand-in for a lakehouse snapshot id (on Delta/Iceberg this
    * would be the table version, one metadata read). Record it at
    * registration ([[registerFresh]]); [[SummaryRewrite]] recomputes it
    * per candidate rewrite and BAILS to the base scan when it differs —
    * a summary lagging its base must never serve stale rows silently.
    * The listing is metadata-only (no data read); registries fronting
    * object stores should prefer the snapshot-id form. */
  def baseVersionToken(spark: org.apache.spark.sql.SparkSession,
                       path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.toString
      // committer markers/CRCs churn without data changes — data files
      // (and their lengths/mtimes) are the version-bearing facts
      if (!name.endsWith("_SUCCESS") && !name.endsWith(".crc"))
        entries += s"$name:${st.getLen}:${st.getModificationTime}"
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
    digest.map("%02x".format(_)).mkString
  }

  private val reg = new ConcurrentHashMap[String, Vector[Summary]]()

  /** Register a summary, keyed by (base path, GRAIN): re-registering
    * the same grain REPLACES the entry (the maintenance loop's
    * re-stamp), a different grain COEXISTS — a base commonly keeps
    * several rollups (day grain for time series, type grain for
    * breakdowns). [[SummaryRewrite]] tries each registered summary and,
    * among those that provably serve the query, routes to the one with
    * the fewest `rows` (the registry's cost model: a summary's grain-row
    * count, stamped at registration/refresh time — rollup cardinality is
    * as stable a statistic as a table row count); summaries without a
    * row count rank last, ties keep registration order. */
  def register(basePath: String, s: Summary): Unit =
    reg.compute(basePath, (_, cur) => {
      val v = if (cur == null) Vector.empty[Summary] else cur
      v.filterNot(_.groupCols.toSet == s.groupCols.toSet) :+ s
    })

  /** [[register]] with the freshness contract: stamps the CURRENT
    * [[baseVersionToken]] of `basePath` into the summary, so any later
    * base write (append, overwrite, compaction) makes
    * [[SummaryRewrite]] bail until re-registration. This is the
    * registration every maintenance loop should use — the bare
    * [[register]] (no token) keeps routing unconditionally and exists
    * for callers that pin freshness some other way. */
  def registerFresh(spark: org.apache.spark.sql.SparkSession,
                    basePath: String, s: Summary): Unit =
    register(basePath,
      s.copy(baseToken = Some(baseVersionToken(spark, basePath))))

  def clear(): Unit = reg.clear()
  private[graft] def lookup(path: String): Seq[Summary] =
    Option(reg.get(path)).getOrElse(Vector.empty)

  /** Why did (or didn't) `df` route through a registered summary?
    * Re-optimizes `df`'s plan with [[SummaryRewrite]]'s decision trace
    * enabled and returns the log — candidate bases, every conservative
    * bail by reason, and the routes taken. The bails are otherwise
    * invisible (the rule silently keeps the original plan), which
    * makes "why is my dashboard query scanning the corpus?" an
    * unanswerable operator question without this readout. */
  def explainRoute(df: DataFrame): Seq[String] = SummaryRewrite.traceRoute(df)
}

/** Transparent aggregate-to-summary routing — the optimizer half of the
  * materialized-view story (the IVM operators keep the summary fresh;
  * this rule makes queries USE it without being rewritten by hand).
  * An `Aggregate` over a registered base relation whose shape the
  * summary can answer is re-planned onto the summary:
  *
  *   COUNT(1)  over base  →  SUM(cnt)   over summary (coalesced to
  *                                        keep COUNT's non-null type)
  *   SUM(x)    over base  →  SUM(sum_x) over summary
  *   grain     ⊆ the summary's group columns (any order; a STRICT
  *               subset re-aggregates the summary — every served
  *               function is already written as a re-aggregation, so
  *               coarser grains including the global ⟨⟩ grain are
  *               exactly answerable)
  *   filters   allowed when they reference grain columns ONLY (a
  *               grain predicate is constant within each group, so it
  *               transfers to the summary verbatim — the
  *               partition-filter shape); any other filter bails
  *
  * At 100 TB this is the difference between scanning the corpus and
  * scanning |keys| rows — the rewrite every lakehouse engine ships
  * (Materialize/Snowflake MV routing, Databricks MV). There is one
  * rewrite: the registered base is located under the Aggregate, with
  * no join on the path (the plain aggregate) or inside an inner /
  * base-left-outer join tree (the star dashboard shapes), and re-planted
  * as its summary. The rule is deliberately CONSERVATIVE: a non-grain
  * or non-deterministic filter, an aggregate function or grouping the
  * summary cannot reproduce, or a multi-root relation bails to the
  * original plan — a wrong rewrite is a silent wrong answer, so only
  * the exactly-provable shape rewrites. Output
  * attribute ids (and types) are preserved, so parent operators never
  * see the switch.
  *
  * Known numeric note (AVG): Spark's native `Average` over integral
  * input accumulates the running sum in DOUBLE, rounding per add; the
  * routed plan folds the summary's EXACT long sums and casts each to
  * double before its own double fold. Both are double-rounded
  * accumulations (neither is deterministic past 2⁵³ — partial-agg
  * order varies run to run), but below |Σ| < 2⁵³ every intermediate is
  * exactly representable and routed ≡ unrouted bit-for-bit. The
  * routed form is the MORE exact of the two beyond that (fewer
  * roundings); the divergence domain is documented here rather than
  * hidden.
  *
  * Registered via [[GraftExtensions]] (`injectOptimizerRule`); with an
  * empty [[MvRegistry]] the rule is a no-op, so the gated inventory's
  * plans are untouched unless a summary is explicitly registered
  * (SummaryRewriteSpec proves both directions). */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** Decision trace, enabled per-thread by [[traceRoute]] — `note`
    * costs one null check when tracing is off (the normal optimizer
    * path). */
  private val traceBuf =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]

  private def note(msg: => String): Unit = {
    val b = traceBuf.get()
    if (b != null) b += msg
  }

  /** [[MvRegistry.explainRoute]]'s engine: force a FRESH optimizer run
    * over `df`'s plan (the vacuous filter guarantees a new, un-cached
    * QueryExecution; ConstantFolding removes it long before this rule's
    * extension batch runs) with the trace enabled. */
  private[plans] def traceRoute(df: DataFrame): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    traceBuf.set(buf)
    try df.filter(org.apache.spark.sql.functions.lit(true))
      .queryExecution.optimizedPlan
    finally traceBuf.remove()
    if (buf.isEmpty)
      Seq("no aggregate over a registered base reached SummaryRewrite")
    else buf.toSeq
  }

  /** Inline alias definitions into `e` (bottom-up maps are already
    * fully substituted, so one pass suffices). */
  private def substitute(e: Expression,
                         amap: Map[ExprId, Expression]): Expression =
    if (amap.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if amap.contains(a.exprId) => amap(a.exprId)
    }

  /** The parquet root under `plan`, the deterministic Filter
    * conditions on the way down (alias-substituted), the relation, and
    * the ALIAS MAP of every computed projection passed through, looking
    * through Projects of attributes and deterministic aliases.
    * [[findBase]] calls it at the base leaf: for a plain aggregate
    * that is everything below the top Projects, under a join the
    * join's base-side input.
    *
    * Collected filters are only USABLE when every column they reference
    * is a grain column (checked in [[attempt]]): a grain predicate is
    * constant within each group, so applying it to the summary selects
    * exactly the qualifying groups — the partition-filter case every MV
    * router must serve. Non-deterministic conditions bail here
    * (re-evaluating them over |keys| rows instead of the corpus changes
    * semantics). A relation reading MULTIPLE roots
    * (spark.read.parquet(base, other)) is NOT the registered base even
    * when one root matches — routing it would answer for the union out
    * of one path's summary, so multi-root bails.
    *
    * The analyzer extracts complex groupings (`GROUP BY f(g)`) and
    * computed columns into `Alias(expr) AS _groupingexpression#N`
    * Projects below the Aggregate — the alias map lets [[rewrite]]
    * resolve those attributes back to expressions over the SCAN's
    * columns, where the grain check is meaningful (or, under a join,
    * fence them). */
  private def collectBase(plan: LogicalPlan)
  : Option[(String, Seq[Expression], HadoopFsRelation,
      Map[ExprId, Expression])] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 =>
        Some((fs.location.rootPaths.head.toString, Nil, fs, Map.empty))
      case _ => None
    }
    case Project(pl, child) if inlinable(pl) =>
      collectBase(child).map { case (p, fs, rel, amap) =>
        (p, fs, rel, withAliases(pl, amap))
      }
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child)
      if cond.deterministic =>
      collectBase(child).map { case (p, fs, rel, amap) =>
        (p, substitute(cond, amap) +: fs, rel, amap)
      }
    case _ => None
  }

  /** The freshness gate: a summary registered with a base-version token
    * only routes while the CURRENT token matches — a base write after
    * registration (append, overwrite, compaction) makes every candidate
    * rewrite bail to the base scan until the maintenance loop
    * re-registers. Token absent = caller pinned freshness elsewhere;
    * route unconditionally (pre-r13 contract).
    *
    * Checked LAST, after every cheap structural check has passed, and
    * memoized per optimizer invocation (`cache`): the token is a
    * recursive file listing — on an object store a full LIST per
    * aggregate per query — so plans that bail structurally must never
    * pay it, and several candidate aggregates over one base in one
    * plan list its files once (ADVICE r13). */
  private def isFresh(s: MvRegistry.Summary, path: String,
                      rel: HadoopFsRelation,
                      cache: scala.collection.mutable.Map[String, String])
  : Boolean =
    s.baseToken.forall(_ == cache.getOrElseUpdate(path,
      MvRegistry.baseVersionToken(rel.sparkSession, path)))

  private def isConst(e: Expression): Boolean = e match {
    case l: Literal => l.value != null
    case _ => false
  }

  /** Inline the Projects on top of the Aggregate's child into an alias
    * map, stopping at the first Filter or Join: `GROUP BY f(grain)` (or
    * any computed output) over a join tree gets
    * its expression extracted by the analyzer into a computing Project
    * ABOVE the join (`Alias(f(g)) AS _groupingexpression#N`), which
    * would otherwise block [[findBase]] and bail the month-rollup ×
    * dim dashboard shape. Substituting the definitions back into the
    * groupings/outputs is semantics-preserving (the rebuilt Aggregate
    * re-computes the expression from the summary twins); a
    * non-deterministic alias stops the descent (conservative — the
    * remaining Project blocks findBase as before). Only Projects are
    * inlined: by this point in the optimizer every deterministic
    * Filter has been pushed below the join. */
  private def inlineTopProjects(plan: LogicalPlan)
  : (LogicalPlan, Map[ExprId, Expression]) = plan match {
    case Project(pl, c) if inlinable(pl) =>
      val (inner, amap) = inlineTopProjects(c)
      (inner, withAliases(pl, amap))
    case p => (p, Map.empty)
  }

  /** A Project [[collectBase]] and [[inlineTopProjects]] look through:
    * plain attributes and deterministic aliases only. */
  private def inlinable(pl: Seq[NamedExpression]): Boolean = pl.forall {
    case _: AttributeReference => true
    case Alias(e, _) => e.deterministic
    case _ => false
  }

  /** `amap` plus `pl`'s alias definitions, each substituted through
    * `amap` so the map stays fully inlined. */
  private def withAliases(pl: Seq[NamedExpression],
                          amap: Map[ExprId, Expression])
  : Map[ExprId, Expression] =
    amap ++ pl.collect {
      case al @ Alias(e, _) => al.exprId -> substitute(e, amap)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val tokCache = scala.collection.mutable.HashMap.empty[String, String]
    plan.transform {
      // groupings may be plain grain columns OR any deterministic
      // EXPRESSION over them (GROUP BY f(grain) — date_trunc rollups,
      // substrings, band arithmetic): evaluating f per summary row is
      // identical to evaluating it per base row within the group, so
      // grouping the summary by the remapped expression re-aggregates
      // exactly (mapOutputs serves the matching output expressions)
      case agg @ Aggregate(groupExprs, aggExprs, child, None)
        if groupExprs.forall(_.deterministic) =>
        rewrite(groupExprs, aggExprs, child, tokCache).getOrElse(agg)
    }
  }

  /** Substitute alias definitions into a named output, keeping the top
    * name (a bare reference to an aliased attribute re-wraps as an
    * Alias carrying the same exprId so parents still resolve). */
  private def substNamed(ne: NamedExpression,
                         amap: Map[ExprId, Expression])
  : Option[NamedExpression] = ne match {
    case a: AttributeReference if amap.contains(a.exprId) =>
      Some(Alias(amap(a.exprId), a.name)(exprId = a.exprId))
    case al @ Alias(e, n) =>
      Some(Alias(substitute(e, amap), n)(exprId = al.exprId))
    case a: AttributeReference => Some(a)
    case _ => None
  }

  /** Cost-based choice among the summaries that PROVABLY serve the
    * query: fewest registered grain rows wins — with several rollups
    * per base (day, type, day×type) the finest grain often serves
    * everything the coarser ones do, and picking it would scan an
    * order of magnitude more rows for the same answer. Summaries
    * registered without a row count rank last (no stats — assume big);
    * ties keep registration order (`minBy` is stable). */
  private def pickBest(served: Seq[(MvRegistry.Summary, LogicalPlan)],
                       tag: String, path: String): Option[LogicalPlan] = {
    if (served.isEmpty) return None
    val (best, plan) = served.minBy(_._1.rows.getOrElse(Long.MaxValue))
    if (served.size > 1)
      note(s"choice($tag): ${served.size} summaries serve — picked " +
        s"grain=${best.groupCols.mkString("+")} " +
        s"(rows=${best.rows.map(_.toString).getOrElse("unknown")}) over " +
        served.collect { case (s, _) if s ne best =>
          s"grain=${s.groupCols.mkString("+")}" +
            s"(rows=${s.rows.map(_.toString).getOrElse("unknown")})"
        }.mkString(", "))
    note(s"routed($tag, grain=${best.groupCols.mkString("+")}): " +
      s"$path → summary")
    Some(plan)
  }

  /** The located base: `rebuild` re-plants a replacement subplan where
    * the base (and its pruning Projects / collected Filters) stood,
    * re-creating every Join on the path with its condition passed
    * through `remap` (grain attrs → summary twins); `conds` are those
    * path conditions for validation. `joined` is false for the plain
    * aggregate — the site [[collectBase]] reached with no join on the
    * path (an inner join with no condition has no `conds` either, so
    * `conds` cannot tell). */
  private final case class BaseSite(
      rebuild: (LogicalPlan, Expression => Expression) => LogicalPlan,
      path: String, filters: Seq[Expression], rel: HadoopFsRelation,
      baseOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      conds: Seq[Expression],
      amap: Map[ExprId, Expression],
      joined: Boolean) {
    /** The trace tag: `direct` for the plain aggregate, else `star`. */
    def kind: String = if (joined) "star" else "direct"
  }

  /** True when any relation under `plan` scans a registered base path
    * (used for the ambiguity bail — see [[findBase]]). */
  private def containsRegisteredBase(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case lr: LogicalRelation if (lr.relation match {
        case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 =>
          MvRegistry.lookup(fs.location.rootPaths.head.toString).nonEmpty
        case _ => false
      }) => ()
    }.isDefined

  /** Locate a registered base under the Aggregate: directly under its
    * pruning Projects and grain Filters (the plain aggregate, via
    * [[collectBase]]), or under a tree of INNER / LEFT-OUTER joins,
    * descending through pruning Projects. Inner joins are searched on
    * both sides; a LEFT-OUTER join is searched on its LEFT side only —
    * the fact-LEFT-JOIN-dim dashboard shape (the reference's own
    * flagship batch aggregate, `read_delta.py:285`). With the base on
    * the left, null extension PRESERVES the routing invariant: every
    * base row of grain g appears m'(g) = (m(g) = 0 ? 1 : m(g)) times —
    * still a pure function of the grain when the condition's base-side
    * references are grain columns — and the unmatched rows' dim columns
    * are null IDENTICALLY in base and summary plans, so every
    * multiplicity-linear fold and multiplicity-invariant rewrite
    * carries over unchanged. A base on the RIGHT of a left join does
    * NOT route: the null-extended rows are the OTHER side's, with the
    * base columns nulled — Σcnt over them would undercount (no summary
    * row backs a null extension), so that side is simply not searched.
    * A second registered base anywhere else in the tree bails
    * (ambiguity — a self-join needs row-level data on at least one
    * side). */
  private def findBase(plan: LogicalPlan): Option[BaseSite] = {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    collectBase(plan) match {
      // the alias map is CARRIED (not dropped): a computed projection
      // below the join can shadow a grain column's NAME AND TYPE
      // (upper(event_type) AS event_type), which passes every
      // name/type-based downstream check while the rebuild would
      // replace the computing Project with the raw summary — silently
      // wrong results. rewrite bails when anything references an
      // alias below a join (ADVICE r13, high), and substitutes the
      // aliases when no join lies on the path.
      case Some((p, fs, rel, amap)) if MvRegistry.lookup(p).nonEmpty =>
        Some(BaseSite((nb, _) => nb, p, fs, rel, plan.outputSet, Nil, amap,
          joined = false))
      case _ => plan match {
        case j @ Join(l, r, jt, cond, _)
          if (jt == Inner || jt == LeftOuter) &&
            cond.forall(_.deterministic) =>
          def through(c: BaseSite, plant: LogicalPlan => Join) =
            Some(c.copy(
              rebuild = (nb, remap) => plant(c.rebuild(nb, remap)).copy(
                condition = cond.map(_.transform {
                  case e: AttributeReference => remap(e)
                })),
              conds = c.conds ++ cond, joined = true))
          (findBase(l),
            if (jt == Inner) findBase(r) else None) match {
            case (Some(_), _) if containsRegisteredBase(r) => None
            case (None, Some(_)) if containsRegisteredBase(l) => None
            case (Some(c), _) => through(c, sub => j.copy(left = sub))
            case (None, Some(c)) => through(c, sub => j.copy(right = sub))
            case _ => None
          }
        case Project(pl, ch)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
          // pruning-only projection: drop it on rebuild (the routed
          // aggregate re-derives exactly what it needs; the optimizer
          // re-prunes)
          findBase(ch)
        case _ => None
      }
    }
  }

  /** The one rewrite. [[findBase]] locates the registered base under
    * the Aggregate; the base leaf is re-planted as its summary and every
    * join on the path is kept. The plain aggregate is the site with no
    * join (`direct` in the trace); an Aggregate over an INNER-join tree
    * containing the base is the star/snowflake dashboard shape (`star`):
    *
    *   SELECT g, d.label, SUM(x)
    *   FROM base JOIN d ON base.g = d.k JOIN d2 ON d.r = d2.r
    *   GROUP BY g, d.label
    *   →  same with `base` replaced by its summary
    *
    * Correctness under joins rests on one invariant: every join
    * condition's BASE-side references must be GRAIN columns. Then each
    * base row's join multiplicity m is a function of its grain values
    * alone, so m is constant within every summary group and every
    * served function is multiplicity-linear (Σx·m, cnt·m, nn·m fold
    * identically) or multiplicity-invariant (MIN/MAX, COUNT DISTINCT
    * over expressions of grain and dim columns). This holds for ANY
    * deterministic condition — equi, range, or compound — and any dim
    * fan-out (spec-proven with a duplicate-key dim and a non-equi range
    * condition); keys with m = 0 drop from both plans alike.
    *
    * The same invariant extends to LEFT-OUTER joins with the base on
    * the LEFT (see [[findBase]]): m'(g) = max over the null extension
    * is still grain-constant, and unmatched grains null-extend the dim
    * columns identically in both plans.
    *
    * Conservative bails: any non-INNER/non-base-left-LEFT join on the
    * path, a condition referencing a base NON-grain column, aggregate
    * functions over base non-grain value columns without a registered
    * summary column, groupings that are neither grain columns nor dim
    * attributes, non-grain base-side filters, or a second registered
    * base in the tree (self-join ambiguity). Dim subtrees pass through
    * UNTOUCHED; aggregates over DIM (or mixed grain × dim) expressions
    * route via the multiplicity-linear cnt fold or the
    * multiplicity-invariant rewrites — the attribute fence (`isBase`)
    * keeps a dim column that shares a served base column's NAME from
    * ever hijacking its mapping (it keeps its own attribute; spec
    * asserts the sharpest collision). With no join there are no dim
    * columns: every attribute is a base attribute. */
  private def rewrite(groupExprs0: Seq[Expression],
                      aggExprs0: Seq[NamedExpression],
                      child: LogicalPlan,
                      tokCache: scala.collection.mutable.Map[String, String])
  : Option[LogicalPlan] = {
    // computed groupings/outputs live in analyzer-made Projects above
    // the join — inline their definitions so the grain/dim checks see
    // the real expressions (GROUP BY f(grain) over a star routes)
    val (stripped, topMap) = inlineTopProjects(child)
    val site = findBase(stripped) match {
      case Some(site) => site
      case None => return None
    }
    val cands = MvRegistry.lookup(site.path)
    if (cands.isEmpty) return None
    val kind = site.kind
    note(s"candidate($kind): " +
      (if (site.joined) "join tree" else "aggregate") +
      s" over registered base ${site.path} (${cands.size} registered summaries)")
    // with no join, the aliases below the Aggregate are substituted down
    // to the scan's columns (a shadowing upper(g) AS g re-groups the
    // summary by upper(g)); under a join they are fenced below instead
    val amap =
      if (site.joined) topMap
      else site.amap ++ topMap.map { case (id, e) => id -> substitute(e, site.amap) }
    val groupExprs = groupExprs0.map(substitute(_, amap))
    val subs = aggExprs0.map(substNamed(_, amap))
    if (subs.exists(_.isEmpty)) {
      note(s"bail($kind): an output expression shape is unsupported")
      return None
    }
    val aggExprs = subs.map(_.get)
    // a computed projection alias below the join (carried in site.amap)
    // referenced by ANY path condition, grouping, or output would be
    // silently replaced by the raw summary column on rebuild — a
    // shadowing alias passes the name/type checks downstream, so the
    // reference itself must bail (ADVICE r13, high). Checked AFTER the
    // top-project inlining, so references that arrived through an
    // above-join alias are fenced too. Summary-independent: checked
    // once per site.
    if (site.joined && site.amap.nonEmpty) {
      val refIds = (groupExprs ++ site.conds ++ aggExprs)
        .flatMap(_.references.toSeq).map(_.exprId).toSet
      if (refIds.exists(site.amap.contains)) {
        note("bail(star): a join condition, grouping, or output " +
          "references a computed projection below the join")
        return None
      }
    }
    pickBest(cands.flatMap(s =>
      attempt(groupExprs, aggExprs, site, s, tokCache).map(s -> _)),
      kind, site.path)
  }

  private def attempt(groupExprs: Seq[Expression],
                      aggExprs: Seq[NamedExpression], site: BaseSite,
                      s: MvRegistry.Summary,
                      tokCache: scala.collection.mutable.Map[String, String])
  : Option[LogicalPlan] = {
    val tag = s"${site.kind}, grain=${s.groupCols.mkString("+")}"
    // under a join, the base side is the base site's output; with no
    // join every attribute is a base attribute — the site's output can
    // miss a relation column a pruning Project dropped, which a
    // substituted alias still reaches and must be grain-checked
    val isBase: Attribute => Boolean =
      if (site.joined) site.baseOut.contains else _ => true
    def baseRefsAreGrain(e: Expression): Boolean =
      e.references.forall(a => !isBase(a) || s.groupCols.contains(a.name))
    // every path condition and every grouping expression: base-side
    // references must be grain columns (dim references pass)
    if (!site.conds.forall(baseRefsAreGrain)) {
      note(s"bail($tag): a join condition references a non-grain base column")
      return None
    }
    if (!groupExprs.forall(baseRefsAreGrain)) {
      note(s"bail($tag): a grouping references a non-grain base column")
      return None
    }
    if (!site.filters.forall(_.references.forall(a =>
        s.groupCols.contains(a.name)))) {
      note(s"bail($tag): a base-side filter references a non-grain column")
      return None
    }
    val mvPlan = s.mv().queryExecution.analyzed
    def mvAttr(name: String): Option[AttributeReference] =
      mvPlan.output.collectFirst {
        case x: AttributeReference if x.name == name => x
      }
    // every base attr referenced ANYWHERE outside the aggregate
    // functions (groupings, path conditions, named grouping
    // outputs) needs a same-typed summary twin; exprId-keyed so a
    // same-named computed column can't collide
    val needed = (groupExprs.flatMap(_.references.toSeq) ++
      site.conds.flatMap(_.references.toSeq) ++
      aggExprs.flatMap {
        case Alias(e, _)
          if !e.exists(_.isInstanceOf[AggregateExpression]) =>
          e.references.toSeq
        case a: AttributeReference => Seq(a)
        case _ => Nil
      }).collect {
        case a: AttributeReference if isBase(a) => a
      }.groupBy(_.exprId).map(_._2.head).toSeq
    val twins: Map[ExprId, AttributeReference] = needed.flatMap(a =>
      mvAttr(a.name).collect {
        case m if m.dataType == a.dataType => a.exprId -> m
      }).toMap
    if (twins.size != needed.size) {
      note(s"bail($tag): a referenced base column has no same-typed summary twin")
      return None
    }
    val outOpt = mapOutputs(aggExprs, mvAttr, twins, s, isBase)
    if (outOpt.isEmpty) {
      note(s"bail($tag): an output is not answerable by the summary " +
        "(unserved aggregate function or missing/mistyped summary column)")
      return None
    }
    val fcOpt = remapFilters(site.filters, mvAttr)
    if (fcOpt.isEmpty) {
      note(s"bail($tag): a filter column has no same-typed summary twin")
      return None
    }
    if (!isFresh(s, site.path, site.rel, tokCache)) {
      note(s"bail($tag): base version token changed since registration " +
        s"— summary for ${site.path} is stale, re-register after refresh")
      return None
    }
    note(s"serves($tag): ${site.path}")
    val mvFiltered = fcOpt.get.foldRight(mvPlan) { (f, acc) =>
      org.apache.spark.sql.catalyst.plans.logical.Filter(f, acc)
    }
    val remap: Expression => Expression = {
      case a: AttributeReference => twins.getOrElse(a.exprId, a)
      case e => e
    }
    val newGroups = groupExprs.map(g => g.transform {
      case a: AttributeReference => twins.getOrElse(a.exprId, a)
    })
    Some(Aggregate(newGroups, outOpt.get,
      site.rebuild(mvFiltered, remap)))
  }

  /** The rewrite's output-expression mapping. Each aggExpr must be
    * provably answerable or the whole rewrite bails: grouping attrs
    * re-point at their summary twin (original exprId kept so parents
    * still resolve), non-base attrs (a join's dim columns) stay
    * untouched, and the served aggregate functions fold the summary
    * columns. `isBase` fences the function arguments: under a join a
    * DIM column that happens to share a served base column's NAME must
    * not hijack its mapping. */
  private def mapOutputs(aggExprs: Seq[NamedExpression],
                         mvAttr: String => Option[AttributeReference],
                         mvGroups: Map[ExprId, AttributeReference],
                         s: MvRegistry.Summary,
                         isBase: Attribute => Boolean)
  : Option[Seq[NamedExpression]] = {
    val mvCnt = mvAttr(s.cntCol)
    if (mvCnt.isEmpty) return None
    // cnt-column type fence (ADVICE r14): every rewrite below builds
    // post-analysis expressions, so nothing re-runs type coercion — a
    // summary registered with, say, an INT cnt must bail conservatively
    // (or fold through a widening Sum where that is provably the same
    // type the original aggregate produced), never emit a mistyped plan.
    def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt == org.apache.spark.sql.types.ByteType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.IntegerType || dt == LongType
    // Sum over any integral input yields LongType — COUNT's type — so
    // the Σcnt / Σnn folds accept any integral summary column…
    val cntIntegral = isIntegral(mvCnt.get.dataType)
    // …but the multiplicity-linear folds multiply by (and emit) the raw
    // cnt column inside Multiply/If branches whose OTHER side is
    // LongType: those require cnt to be exactly LongType.
    val cntLong = mvCnt.get.dataType == LongType
    // an expression over GRAIN columns only (star-dim references pass
    // through): evaluable per summary row, where it sees exactly the
    // distinct argument tuples the base sees — the precondition of
    // every multiplicity-invariant rewrite below
    def grainOnlyExpr(e: Expression): Boolean =
      e.deterministic && e.references.toSeq.forall {
        case a: AttributeReference =>
          (isBase(a) && s.groupCols.contains(a.name) &&
            mvAttr(a.name).exists(_.dataType == a.dataType)) ||
            !isBase(a)
        case _ => false
      }
    def remapGrain(e: Expression): Expression = e.transform {
      case a: AttributeReference if isBase(a) => mvAttr(a.name).get
    }
    val out: Seq[Option[NamedExpression]] = aggExprs.map {
      // a grouping column itself: re-point at the summary's, keeping
      // the original exprId so parents still resolve
      case a: AttributeReference if mvGroups.contains(a.exprId) =>
        Some(Alias(mvGroups(a.exprId), a.name)(exprId = a.exprId))
      // a dim-side grouping column (star shape): the dim subtree is
      // unchanged, so the attribute resolves as-is
      case a: AttributeReference if !isBase(a) => Some(a)
      case al @ Alias(ae: AggregateExpression, name) =>
        // FILTER (WHERE …) clauses are served when every base-side
        // reference is a GRAIN column (remapped to its summary twin);
        // non-base (dim) references pass through — either way the
        // predicate is constant within a summary group × dim row, so
        // the filtered multiplicity stays grain-constant and every
        // served fold filters identically on the summary. A base
        // NON-grain reference needs row-level data — bail.
        val filterRemapped: Option[Option[Expression]] = ae.filter match {
          case None => Some(None)
          case Some(f) if f.deterministic =>
            var ok = true
            val rf = f.transform {
              case a: AttributeReference if isBase(a) =>
                if (s.groupCols.contains(a.name))
                  mvAttr(a.name) match {
                    case Some(m) if m.dataType == a.dataType => m
                    case _ => ok = false; a
                  }
                else { ok = false; a }
            }
            if (ok) Some(Some(rf)) else None
          case _ => None // non-deterministic filter: bail
        }
        val core: Option[Expression] =
          (ae.aggregateFunction, ae.isDistinct) match {
            // COUNT(const) ≡ row count ≡ Σ summary.cnt; coalesce keeps
            // COUNT's non-nullable BIGINT type (vacuous per group,
            // exact for the grand total over an empty base). In the
            // star shape each summary row replicates per dim match, so
            // Σ cnt·m is exactly the joined row count.
            case (Count(Seq(c)), false) if isConst(c) && cntIntegral =>
              Some(Coalesce(Seq(
                Sum(mvCnt.get).toAggregateExpression(),
                Literal(0L))))
            case (Sum(a: AttributeReference, _), false)
              if isBase(a) && s.sums.contains(a.name) &&
                mvAttr(s.sums(a.name)).isDefined &&
                mvAttr(s.sums(a.name)).get.dataType == al.dataType =>
              // result-type fence (review r18): Sum over DecimalType
              // widens its own result (p+10), so re-summing a summary
              // column ALREADY holding the widened type widens again —
              // the routed child would emit a different type under the
              // preserved exprId (mis-typed UnsafeRow reads upstream).
              // Long/Double sums are fixed points of Sum's typing, so
              // the gated entries route; a decimal whose re-sum widens
              // bails to the base scan like every other fence
              val routedSum =
                Sum(mvAttr(s.sums(a.name)).get).toAggregateExpression()
              if (routedSum.dataType == al.dataType) Some(routedSum)
              else None
            // COUNT(DISTINCT e1[, e2…]) where every BASE-side reference
            // is a GRAIN column (dim references pass through in the
            // star shape): the summary holds exactly ONE row per
            // existing grain combination, so after the dim joins the
            // routed plan sees exactly one row per (grain, dim-match)
            // pair — the same distinct tuple set the base produces,
            // with base-row multiplicity collapsed by DISTINCT on both
            // sides. Covers the bare grain column, f(grain) rollup
            // keys, multi-argument distincts, and grain × dim mixes;
            // rows where any argument is null drop from COUNT DISTINCT
            // identically on both sides.
            case (Count(args), true)
              if args.nonEmpty && args.forall(grainOnlyExpr) =>
              Some(Count(args.map(remapGrain))
                .toAggregateExpression(isDistinct = true))
            // COUNT(DISTINCT x) over a VALUE column backed by a
            // registered distinct-sketch column (the verified-license
            // contract, see Summary.distincts): each summary row
            // carries the COMPLETE distinct-hash set of x within its
            // grain, so |∪ sketches| over any group of summary rows IS
            // the group's distinct count — collect the arrays, flatten,
            // dedup, size. Multiplicity-INVARIANT like MIN/MAX: in the
            // star shape a dim fan-out replicates whole arrays and
            // array_distinct collapses them, and m(g) = 0 grains drop
            // from both plans alike — so the same fold serves direct,
            // rollup-to-coarser-grain, and star/left-star routing. At
            // 100 TB this turns the one dashboard shape that still
            // re-opened the corpus (distinct users) into a |keys|-row
            // array union.
            case (Count(Seq(a: AttributeReference)), true)
              if isBase(a) && s.distincts.contains(a.name) &&
                al.dataType == LongType &&
                mvAttr(s.distincts(a.name)).exists(m => m.dataType match {
                  case org.apache.spark.sql.types.ArrayType(LongType, _) => true
                  case _ => false
                }) =>
              Some(Coalesce(Seq(
                Cast(
                  org.apache.spark.sql.catalyst.expressions.Size(
                    org.apache.spark.sql.catalyst.expressions.ArrayDistinct(
                      org.apache.spark.sql.catalyst.expressions.Flatten(
                        org.apache.spark.sql.catalyst.expressions.aggregate
                          .CollectList(mvAttr(s.distincts(a.name)).get)
                          .toAggregateExpression()))),
                  LongType),
                Literal(0L))))
            // COUNT(col): non-null count ≡ Σ summary.nn (coalesced:
            // COUNT is non-nullable)
            case (Count(Seq(a: AttributeReference)), false)
              if isBase(a) && s.nns.contains(a.name) &&
                mvAttr(s.nns(a.name)).exists(m => isIntegral(m.dataType)) =>
              Some(Coalesce(Seq(
                Sum(mvAttr(s.nns(a.name)).get).toAggregateExpression(),
                Literal(0L))))
            // AVG(col) = Σ sum_col / Σ nn_col — nulls ignored by avg,
            // so the non-null count is the denominator; an all-null
            // group has a null summary sum and the division stays
            // null, matching avg. The numerator folds DOUBLE-cast
            // summary sums (replicating native Average's double
            // accumulation — see the scaladoc's numeric note); the
            // denominator is an exact long fold cast once.
            case (Average(a: AttributeReference, _), false)
              if isBase(a) && s.sums.contains(a.name) &&
                s.nns.contains(a.name) &&
                // type fences matching the SUM/COUNT siblings (review
                // r18): without them a mis-registered non-numeric
                // summary column would route through Cast — NULLs
                // where the cast fails, a silently wrong AVG — instead
                // of bailing to the base scan
                mvAttr(s.sums(a.name)).exists(m =>
                  m.dataType.isInstanceOf[
                    org.apache.spark.sql.types.NumericType]) &&
                mvAttr(s.nns(a.name)).exists(m => isIntegral(m.dataType)) &&
                al.dataType == DoubleType =>
              Some(Divide(
                Sum(Cast(mvAttr(s.sums(a.name)).get, DoubleType))
                  .toAggregateExpression(),
                Cast(Sum(mvAttr(s.nns(a.name)).get).toAggregateExpression(),
                  DoubleType)))
            // MIN/MAX: re-aggregate the summary extremes — exact at
            // the summary grain (one row per group) and at any coarser
            // grain (min of mins IS the min); multiplicity-invariant,
            // so the star shape needs no extra care
            case (Min(a: AttributeReference), false)
              if isBase(a) && s.mins.contains(a.name) &&
                mvAttr(s.mins(a.name)).isDefined &&
                mvAttr(s.mins(a.name)).get.dataType == al.dataType =>
              Some(Min(mvAttr(s.mins(a.name)).get).toAggregateExpression())
            case (Max(a: AttributeReference), false)
              if isBase(a) && s.maxs.contains(a.name) &&
                mvAttr(s.maxs(a.name)).isDefined &&
                mvAttr(s.maxs(a.name)).get.dataType == al.dataType =>
              Some(Max(mvAttr(s.maxs(a.name)).get).toAggregateExpression())
            // MIN/MAX over ANY expression of grain (and dim) columns —
            // no registered extreme column needed: the summary's
            // one-row-per-grain (× dim matches) argument set is the
            // base's distinct argument set, and extremes ignore
            // multiplicity. Serves the MAX(day) freshness readout and
            // f(grain) rollup extremes over a plain count/sum summary.
            // (Value-column extremes take the registered-column cases
            // above; this case only fires for grain-derived arguments.)
            case (Min(e), false) if grainOnlyExpr(e) =>
              Some(Min(remapGrain(e)).toAggregateExpression())
            case (Max(e), false) if grainOnlyExpr(e) =>
              Some(Max(remapGrain(e)).toAggregateExpression())
            // SUM / COUNT / AVG over a grain (or star-dim, or mixed)
            // expression: multiplicity-
            // LINEAR — each grain contributes f(g) · cnt(g), and the
            // summary row carries cnt(g) (the star shape's dim fan-out
            // replicates summary rows exactly m(g) times, matching the
            // base's joined multiplicity), so folding f(twin)·cnt
            // reproduces the base fold in EXACT integer arithmetic.
            // SUM restricted to integral inputs (long folds both ways;
            // a fractional f would change rounding order); COUNT(f)
            // folds cnt over non-null f for any type; AVG divides the
            // two folds double-cast — the same ≤2⁵³ exactness note as
            // the registered-column AVG above.
            case (Sum(e, _), false)
              if cntLong && grainOnlyExpr(e) && al.dataType == LongType &&
                isIntegral(e.dataType) =>
              Some(Sum(Multiply(Cast(remapGrain(e), LongType), mvCnt.get))
                .toAggregateExpression())
            case (Count(Seq(e)), false) if cntLong && grainOnlyExpr(e) =>
              Some(Coalesce(Seq(
                Sum(If(IsNull(remapGrain(e)),
                  Literal.create(null, LongType), mvCnt.get))
                  .toAggregateExpression(),
                Literal(0L))))
            case (Average(e, _), false)
              if cntLong && grainOnlyExpr(e) && al.dataType == DoubleType &&
                isIntegral(e.dataType) =>
              Some(Divide(
                Sum(Cast(Multiply(Cast(remapGrain(e), LongType),
                  mvCnt.get), DoubleType)).toAggregateExpression(),
                Cast(Sum(If(IsNull(remapGrain(e)),
                  Literal.create(null, LongType), mvCnt.get))
                  .toAggregateExpression(), DoubleType)))
            case _ => None // not provably answerable — bail
          }
        for {
          rf <- filterRemapped
          e <- core
        } yield Alias(
          e.transform {
            case x: AggregateExpression => x.copy(filter = rf)
          }, name)(exprId = al.exprId)
      // a non-aggregate output expression (a named grouping expression
      // — GROUP BY f(grain) emits `f(grain) AS name` here): analyzer
      // already proved it is composed of grouping expressions, so
      // remapping its grain attrs to their summary twins preserves it
      // exactly; dim attrs (star shape) pass through
      case al @ Alias(e, name)
        if !e.exists(_.isInstanceOf[AggregateExpression]) &&
          e.deterministic &&
          e.references.forall {
            case a: AttributeReference =>
              !isBase(a) || mvGroups.contains(a.exprId)
            case _ => false
          } =>
        Some(Alias(
          e.transform {
            case a: AttributeReference => mvGroups.getOrElse(a.exprId, a)
          }, name)(exprId = al.exprId))
      case _ => None // anything else: not provably answerable — bail
    }
    if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
  }

  /** Re-point each grain filter's attributes at the summary's; a
    * referenced grain column missing from the summary output (or type-
    * mismatched) bails. */
  private def remapFilters(filters: Seq[Expression],
                           mvAttr: String => Option[AttributeReference])
  : Option[Seq[Expression]] = {
    val remapped = filters.map { f =>
      var ok = true
      val rf = f.transform {
        case a: AttributeReference =>
          mvAttr(a.name) match {
            case Some(m) if m.dataType == a.dataType => m
            case _ => ok = false; a
          }
      }
      if (ok) Some(rf) else None
    }
    if (remapped.exists(_.isEmpty)) None else Some(remapped.flatten)
  }
}
