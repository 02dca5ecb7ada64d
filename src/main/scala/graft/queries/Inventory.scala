package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared, oracle-checked query per operator of SURVEY.md §2.
  *
  * Contract (driver gate, see the builder prompt + Verify.scala):
  *   - `run(spark, sfDir)` executes the operator against the parquet tables
  *     in `sfDir`;
  *   - `oracle` is equivalent ANSI SQL that DuckDB runs over the same
  *     parquet files (table name = file basename); `None` → rows-only check.
  *
  * Determinism rules every entry must obey (DuckDB hash-equality):
  *   1. Column names identical on both sides (alias every computed column).
  *   2. No arithmetic on raw doubles whose result is hashed — sum/avg on
  *      doubles use floor-scaled BIGINT micro-points (exact,
  *      order-insensitive): `floor(x * 1e4)` cast to long, summed, divided
  *      back to DOUBLE at emit with the identical expression on BOTH
  *      sides. NEVER a DECIMAL intermediate: the per-row double→decimal
  *      cast rounds differently across DuckDB versions, so the query
  *      passes the local gate and fails the driver's (VERDICT r8
  *      §wrong-1: w4_rolling_range / t7_attribution /
  *      pipeline_item_insights). Raw double column passthrough is safe
  *      (bit-identical); per-row decimal ROUND pinned to reference
  *      semantics (j3 prime) is the one sanctioned exception.
  *   3. Any LIMIT/top-k carries a total tie-breaking ORDER BY.
  *   4. Sort keys are non-nullable (Spark: NULLS FIRST, DuckDB: NULLS LAST).
  *   5. Every gated output column is a SCALAR with the same type family on
  *      both sides (int / double / varchar / date / timestamp / boolean).
  *      The gate hashes through pandas, which renders DuckDB HUGEINT (from
  *      SUM(BIGINT), preserved by % and //) as float64 ('32.0' vs Spark's
  *      '32') and crashes sorting LIST columns — so CAST every widened
  *      aggregate to BIGINT/DOUBLE explicitly and array_join any list.
  *      Mechanical check: tools/dtype_audit.py <sfDir> <verifyOut> must
  *      report zero hazards.
  *   6. An exact integer that may exceed 2⁵³ (DECIMAL(38,0)/HUGEINT
  *      moments, Σ of big products) must NOT be cast to DOUBLE directly —
  *      wide-int→double rounding is engine-implementation-defined (1-ulp
  *      divergence measured on t14). Emit through [[Exact.bigColToDouble]]
  *      / [[Exact.bigSqlToDouble]] (2⁵²-split, both halves convert
  *      exactly, identical IEEE reassembly on both engines).
  */
final case class Entry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Exact emit of a >2⁵³ integer (DECIMAL(38,0) on the Spark side,
  * HUGEINT in the oracle) as DOUBLE, identically on both engines
  * (determinism rule 6): the direct wide-integer→double cast is
  * engine-implementation-defined rounding (DuckDB's HUGEINT path
  * measurably diverged from java BigDecimal by 1 ulp on t14's Σv·Δt),
  * so the value is split at 2⁵² — hi and lo are BOTH < 2⁵³ and convert
  * exactly — and reassembled with two IEEE ops whose order both engines
  * share. The reassembly is in fact CORRECTLY rounded, not just
  * deterministic: hi·2⁵² is a pure exponent shift (exact), so the one
  * rounding is the final add — equal to BigDecimal.doubleValue
  * (SaltingSpec pins boundaries and signs). Envelope: |v| < 2¹⁰⁵ so hi
  * stays below 2⁵³; every gated moment is ≤ ~10²⁶. The oracle must
  * mirror the identical CASE/abs/`//`/`%` structure. */
object Exact {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.expr

  val Split: Long = 4503599627370496L // 2^52

  /** `name` must reference an integral column (decimal/long, any sign). */
  def bigColToDouble(name: String): Column =
    expr(s"""(CASE WHEN $name < 0 THEN -1.0 ELSE 1.0 END *
             (CAST(abs($name) DIV ${Split}L AS DOUBLE) * ${Split}.0 +
              CAST(CAST(abs($name) % ${Split}L AS BIGINT) AS DOUBLE)))""")

  /** The oracle-side mirror of [[bigColToDouble]] (self-parenthesized —
    * the sign CASE would otherwise rebind under a caller's / or *). */
  def bigSqlToDouble(sql: String): String =
    s"""(CASE WHEN $sql < 0 THEN -1.0 ELSE 1.0 END *
        (CAST(abs($sql) // $Split AS DOUBLE) * $Split.0 +
         CAST(CAST(abs($sql) % $Split AS BIGINT) AS DOUBLE)))"""
}

/** The shared fixed-width micro-bucket grid of the percentile/histogram
  * family (`a30_histogram_reagg`, `cdc_ivm_histogram`,
  * `cdc_mv_routed_percentile`, `cdc_mv_streamed_percentile`):
  * bucket = ⌊value·10⁶⌋ DIV 10⁷, with the dividend SHIFTED +10¹³ (a
  * multiple of the divisor) and the quotient re-offset −10⁶ so the DIV
  * operand is non-negative for any value ≥ −10⁷ — Spark's DIV truncates
  * toward zero while DuckDB's // floors, and they agree only on
  * non-negative operands (the kmeansTrainMicro shift discipline;
  * ADVICE r17). ONE definition for both engines so the four gated
  * entries documented to share this grid can never de-sync. */
object MicroGrid {
  /** Spark-side bucket expression over a `value` column (use in
    * `expr(...)`). */
  val sparkSql: String =
    "(CAST(FLOOR(value * 1e6) AS BIGINT) + 10000000000000L)" +
      " DIV 10000000L - 1000000L"

  /** The DuckDB mirror (splice into oracle SQL). */
  val duckSql: String =
    "(CAST(FLOOR(value * 1e6) AS BIGINT) + 10000000000000)" +
      " // 10000000 - 1000000"

  /** The p50/p95 readout over a `(key, bucket, n)` histogram on this
    * grid: per key, `n_values` = N and `p<q>_lo` = 10 × the first bucket
    * whose running count reaches q % of N. Rank math is integer-only —
    * bucket b is the q-th percentile iff cum(b)·100 ≥ N·q — and the
    * cum/total windows are partitioned by key, so they stay bounded by
    * the grid per group. `suffix` names a second readout beside a
    * first. */
  def percentiles(hist: DataFrame, key: String, n: String = "n",
                  suffix: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, max, min, sum, when}
    import org.apache.spark.sql.types.LongType
    val cum = hist
      .withColumn("cum", sum(n).over(
        Window.partitionBy(key).orderBy("bucket")))
      .withColumn("tot", sum(n).over(Window.partitionBy(key)))
    cum.groupBy(key).agg(
      max(col("tot")).cast(LongType).as(s"n_values$suffix"),
      (min(when(col("cum") * 100 >= col("tot") * 50,
        col("bucket"))) * 10).cast(LongType).as(s"p50_lo$suffix"),
      (min(when(col("cum") * 100 >= col("tot") * 95,
        col("bucket"))) * 10).cast(LongType).as(s"p95_lo$suffix"))
  }
}

object Inventory {
  val all: Seq[Entry] =
    Relational.entries ++ Functions.entries ++ Quality.entries ++
      TextOps.entries ++ DedupOps.entries ++ SimilarityOps.entries ++
      MultimodalOps.entries ++ TemporalOps.entries ++ CurationOps.entries ++
      CdcOps.entries ++ GraphOps.entries

  lazy val byName: Map[String, Entry] = {
    val m = all.map(e => e.name -> e).toMap
    require(m.size == all.size, "duplicate query names in Inventory")
    m
  }
}
