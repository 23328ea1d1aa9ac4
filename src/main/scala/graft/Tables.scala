package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Each table is one parquet file per scale-factor directory. Reads go
  * through `spark.read.parquet` so Catalyst gets predicate pushdown and
  * column pruning against the parquet footers for free.
  */
object Tables {
  // Parquet schema inference runs a Spark job per read; the schema at
  // a path is resolved once per (session, path) and later reads pass
  // it. Released by Registries.clearAll like the frame registries.
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String), StructType]()
  Registries.onClearFrames(() => schemas.clear())

  /** The parquet data at `paths`, read with the schema of the first.
    * For the driver tables and the engine's artifact tables alike: each
    * is written with one fixed schema, which every segment of a
    * multi-path read shares. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val schema = schemas.computeIfAbsent(
      (org.apache.spark.sql.graft.Bridge.sessionUUID(spark), paths.head),
      _ => spark.read.parquet(paths.head).schema)
    spark.read.schema(schema).parquet(paths: _*)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** Events with `ts` normalized to LongType epoch NANOseconds — the
    * engine's internal clock. Two generations of driver testdata exist:
    * TIMESTAMP(NANOS) parquet (arrives as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, passthrough) and
    * TIMESTAMP(MICROS) parquet (arrives as TIMESTAMP_NTZ, converted
    * here). The conversion uses `timestampdiff` against the NTZ epoch —
    * tz-INDEPENDENT, unlike a cast→`unix_micros` chain which would
    * shift by the session zone — so its integer output matches DuckDB's
    * `epoch_us(ts)` on the same file exactly, which is what keeps every
    * downstream `ts div 1000` twin hash-identical to its oracle. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType => raw.withColumn("ts", expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
          ) * 1000L)
      // A TIMESTAMP_LTZ arrival (isAdjustedToUTC parquet, or
      // inferTimestampNTZ disabled) would implicitly cast through the
      // SESSION timezone in the timestampdiff above — silently breaking
      // the documented tz-independence and oracle parity. Fail loudly
      // instead of converting wrong.
      case other => sys.error(
        s"events.ts arrived as $other; expected LongType nanos or " +
          "TIMESTAMP_NTZ — refusing a tz-dependent conversion")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
