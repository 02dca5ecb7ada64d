package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated TPC-H-ish parquet tables
  * (`/root/testdata/sf*`; see TESTDATA.md). One parquet file per table.
  *
  * All inventory queries read through here so that the scan layer stays in
  * one place: at 100 TB these would be partitioned/bucketed Delta tables
  * and this object is the only code that would change.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schemas inferred once per (JVM, path): every bare
    * `spark.read.parquet` call runs a footer-inference DRIVER JOB
    * before the query proper (profiled: a 0.02–0.05 s "parquet at
    * Tables.scala" stage in nearly every inventory entry, 1–3 per
    * query), and the schema it infers is a constant of the round's
    * deterministic test data. Caching the StructType and passing it
    * via `.schema(...)` removes that job — metadata only, the scan
    * itself still reads every byte from parquet per query (the
    * no-result-caching rule is about data; at 100 TB the schema comes
    * from the catalog, not from per-query footer sniffing, so this is
    * also the truthful production shape). A missing path fails inside
    * `computeIfAbsent` with the same per-query AnalysisException as the
    * uncached read, and nothing is cached. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Plain parquet scan. Catalyst pushes filters/projections into this scan
    * (verify via `.explain`: `PushedFilters`, `ReadSchema`).
    *
    * `events.ts` normalizes to session-TZ TimestampType (UTC-pinned in
    * Sessions) whatever the driver stored this round — the physical type
    * has CHANGED across rounds, so the shim dispatches on the schema
    * actually read:
    *   - TIMESTAMP(NANOS) → nanosecond LONG (legacy.parquet.nanosAsLong,
    *     set in Sessions); rebuilt via `DIV 1000` — exact 64-bit integer
    *     math, never double (~1.7e18 ns exceeds the 2^53 mantissa);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ; a
    *     plain cast reinterprets the wall-clock in the UTC session zone
    *     (identical µs values to the nanos path);
    *   - already TimestampType → passthrough. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000L)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    else df
  }

  /** Conditional fan-out for operators whose PER-ROW work dwarfs the
    * row itself (shingle explodes, char-bigram explodes, all-pairs
    * vector scoring): when the input has fewer partitions than the
    * session's parallelism, redistribute it before the heavy map phase.
    *
    * Why this exists: the driver writes each table as ONE parquet file
    * with ONE row group, and a row group is parquet's unit of scan
    * parallelism — so the whole map phase of every query funnels
    * through a single task whatever `local[32]` promises. Measured on
    * sim_knn_graph at sf0.1: 4M scored pairs single-threaded, ~4 s of
    * a 6 s query.
    *
    * Why only at explode-heavy seams: a blanket spread in `apply` was
    * measured a net LOSS (full-bench total 131 → 155 s) — ~150 scan→
    * agg queries each paid ~0.5 s of exchange + sort-before-repartition
    * overhead their single-threaded map phase never cost. The operators
    * that explode each row into many derived rows won 2–4×.
    *
    * Why it is scale-safe: the condition is partition count, not size —
    * a 100 TB table scans as thousands of row groups, the condition is
    * false, and this is a no-op. The explicit-numPartitions form
    * survives AQE's small-shuffle coalescing, which would merge the
    * tiny shuffle right back to one partition. Results are
    * partition-invariant by the inventory's determinism rules. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
