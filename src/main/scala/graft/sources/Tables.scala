package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parquet table loaders + numeric-determinism helpers.
  *
  * All queries go through these helpers so that every aggregate the DuckDB
  * oracle re-computes is bit-identical (SURVEY.md §4):
  *  - double sums are summed as DECIMAL(18,4) (exact, order-independent)
  *    and only then cast back to double;
  *  - means divide the exact decimal sum (as double) by the count — the
  *    single double division is deterministic across engines;
  *  - nothing relies on engine-native hash functions: md5 only.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "region")
  /** events.ts has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (read as long via
    * spark.sql.legacy.parquet.nanosAsLong, set by GraftSession) and plain
    * timestamp[us] (reads as TimestampType directly). Branch on the actual
    * dtype so either generation loads; fail loudly on anything else. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(t(spark, dir, "events"))

  /** Normalize whatever physical encoding events.ts shipped with to
    * TimestampType. */
  private def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long: ns -> µs with integer division (ns overflows a
        // double mantissa, so never go through floating point here)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        // tz-naive parquet; session tz is pinned to UTC, so this cast is a
        // pure re-tag and matches the nanos-era TimestampType downstream
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unexpected parquet dtype $other (want INT64 nanos or TIMESTAMP[_NTZ])")
    }
  /** Integer id columns have no pinned physical width in the driver's
    * testdata (the events.ts lesson generalized): normalize any integral
    * encoding to LongType, fail loudly on anything non-integral. */
  private def normalizeId(raw: DataFrame, table: String, cols: String*): DataFrame =
    cols.foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType => df
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType =>
          df.withColumn(c, col(c).cast("long"))
        case other => throw new IllegalStateException(
          s"$table.$c: unexpected parquet dtype $other (want an integer type)")
      }
    }

  def documents(spark: SparkSession, dir: String): DataFrame =
    normalizeId(t(spark, dir, "documents"), "documents", "doc_id")

  /** embeddings.embedding must reach queries as ARRAY<FLOAT> (the fold
    * arithmetic and VectorDot widen per element). A regenerated testdata
    * shipping ARRAY<DOUBLE> of exact float values casts losslessly — and
    * if the doubles are NOT exact floats, the oracle gate hash-mismatches
    * loudly rather than drifting silently. Anything else throws. */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    val raw = normalizeId(t(spark, dir, "embeddings"), "embeddings", "vec_id", "label")
    raw.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => raw
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalStateException(
        s"embeddings.embedding: unexpected parquet dtype $other (want ARRAY<FLOAT|DOUBLE>)")
    }
  }

  /** Deterministic 4dp rounding: floor(x*10000 + 0.5)/10000 — the SAME
    * expression both engines run (see r4Sql), so it is immune to the
    * Spark-HALF_UP vs DuckDB-HALF_EVEN divergence of native ROUND on exact
    * 5-decimal midpoints, which dyadic quotients (e.g. a 17/32 jaccard)
    * CAN hit. Use for any displayed double that is a quotient/sqrt. */
  def r4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** The identical expression in DuckDB SQL. */
  def r4Sql(e: String): String = s"floor(($e) * 10000.0 + 0.5) / 10000.0"

  /** The salted-md5 integer — the engine half of the md5-only hashing
    * rule (SURVEY.md §4): the first `hexDigits` lowercase hex chars of
    * md5(e) read as a base-16 BIGINT, as a Spark SQL fragment. Every
    * engine-side hash bucket, sample draw and pseudo-random pick is this
    * expression (the oracles spell it out in DuckDB, e.g.
    * TextAnalysis.hex4Sql). */
  def md5Int(e: String, hexDigits: Int): String =
    s"CAST(conv(substring(md5($e), 1, $hexDigits), 16, 10) AS BIGINT)"

  /** Exact sum of a double column: decimal-accumulated, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Deterministic mean: exact decimal sum (double) / count, one double op. */
  def dmean(c: Column): Column = dsum(c) / count(lit(1))

  /** Deterministic sample stddev from exact decimal sums (two-pass formula
    * written identically in the oracle SQL so the double math matches). */
  def dstddev(c: Column): Column = {
    val n  = count(lit(1)).cast("double")
    val s  = dsum(c)
    val s2 = sum((c * c).cast(DecimalType(28, 8))).cast("double")
    sqrt((s2 - s * s / n) / (n - lit(1.0)))
  }
}
