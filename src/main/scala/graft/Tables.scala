package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixture tables (TESTDATA.md).
  *
  * All queries read through here so that source-level concerns (pushdown,
  * pruning) stay in one place: we hand Spark the bare parquet path and let
  * the vectorized reader + Catalyst handle filter pushdown and column
  * pruning — at 100 TB the same call reads a partitioned table and prunes
  * partitions for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Explicit user schema for `events` files whose `ts` column is a raw
    * INT64 (no parquet logical type) or TIMESTAMP(NANOS): both are read as
    * plain longs holding nanoseconds. TIMESTAMP(NANOS) is rejected by
    * schema INFERENCE, but an explicit user schema reads the physical
    * INT64 directly — no session conf involved (the legacy `nanosAsLong`
    * conf this replaced was global state that bled into concurrent readers
    * of other nanos parquet in the same session).
    */
  private val eventsLongSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/$name.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Unit-robust events loader: probe the parquet footer's logical type
    * for `ts` (one footer read — negligible even against a 100 TB table)
    * and adapt, instead of assuming one physical encoding. The reference
    * likewise takes whatever driver-native types the source yields
    * (dasladen task.py:180,256) — type adaptation is the source's job.
    *
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark infers
    *    TimestampNTZ; cast to session-zone TimestampType (sessions here
    *    pin UTC, so the cast is value-preserving) — DuckDB oracle twins
    *    read the same column as a naive TIMESTAMP with identical values.
    *  - TIMESTAMP(MICROS/MILLIS, adjusted) → already TimestampType.
    *  - raw INT64 / TIMESTAMP(NANOS) → nanos-as-long; `ts div 1000`
    *    (integral — a double division would lose precision at 1.7e18)
    *    truncates to the micros Spark can represent, exactly like DuckDB's
    *    NS→TIMESTAMP cast.
    */
  private[graft] def loadEvents(spark: SparkSession, path: String): DataFrame = {
    val probedTs: Option[DataType] =
      scala.util.Try(spark.read.parquet(path).schema)
        .toOption.flatMap(_.find(_.name == "ts").map(_.dataType))
    probedTs match {
      case Some(TimestampNTZType) =>
        spark.read.parquet(path).withColumn("ts", col("ts").cast(TimestampType))
      case Some(TimestampType) =>
        spark.read.parquet(path)
      case Some(LongType) | None => // None: inference rejected TIMESTAMP(NANOS)
        spark.read.schema(eventsLongSchema).parquet(path)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(other) =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other at $path")
    }
  }
}
