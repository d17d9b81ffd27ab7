package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver-contract queries (`TESTDATA.md`). */
object Tables {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types._

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch-µs Column from an `events.ts` of either fixture vintage:
    * TIMESTAMP(NANOS) read as epoch-nanos long (under
    * `spark.sql.legacy.parquet.nanosAsLong`), or TIMESTAMP[_NTZ] (µs).
    * The NTZ→TZ cast is exact under the suite's UTC session timezone —
    * same instant DuckDB's `epoch_us(ts)` computes on the naive value.
    * Integer division on purpose: ~1.7e18 ns exceeds double precision.
    */
  def tsUs(tsType: DataType): Column = {
    import org.apache.spark.sql.functions._
    tsType match {
      case LongType => expr("ts div 1000")
      case TimestampType | TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType))
      // fail fast on an unexpected future fixture encoding (int32
      // seconds, StringType, ...) — a silent cast would propagate nulls
      // or wrong instants through every events query
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — expected " +
          "TIMESTAMP[_NTZ] or epoch-nanos long (TsEncodingSpec pins both)")
    }
  }

  /** `events` normalized to a fixed shape regardless of the fixture's
    * timestamp encoding: `ts` is a proper TimestampType (µs — same
    * bucketing as DuckDB for any ≥µs granularity) and `ts_ns` is
    * epoch-nanos long (exact nanos when the fixture carries them,
    * µs·1000 otherwise — matching DuckDB's `epoch_ns(ts)` either way).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizedEvents(apply(spark, dir, "events"))

  /** [[events]]' normalization of raw `events` rows, batch or stream. */
  def normalizedEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case t =>
        raw.withColumn("ts_ns", tsUs(t) * lit(1000L))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
