package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.ParquetFooter
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixture tables (TESTDATA.md).
  *
  * All queries read through here so that source-level concerns (schema,
  * pushdown, pruning) stay in one place. A single-file table's schema
  * comes from its footer on the driver (`ParquetFooter`) and is handed to
  * the reader, so creating the frame runs no Spark job; a directory, a
  * glob or a footer Spark's converter rejects keeps Spark's schema
  * inference. Either way the vectorized reader and Catalyst do filter
  * pushdown and column pruning, and a partitioned directory prunes
  * partitions.
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
    else parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)`, with the footer's schema when `path` is
    * a single file whose footer Spark's converter accepts.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    read(spark, path, ParquetFooter.read(spark, path).flatMap(_.toOption))

  private def read(spark: SparkSession, path: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(path)

  /** Unit-robust events loader: read the `ts` type from the schema and
    * adapt, instead of assuming one physical encoding. A single file's
    * schema is its footer's, read once and handed to the reader; a
    * directory's is inferred. The reference likewise takes whatever
    * driver-native types the source yields (dasladen task.py:180,256) —
    * type adaptation is the source's job.
    *
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZ; cast to
    *    session-zone TimestampType (sessions here pin UTC, so the cast is
    *    value-preserving) — DuckDB oracle twins read the same column as a
    *    naive TIMESTAMP with identical values.
    *  - TIMESTAMP(MICROS/MILLIS, adjusted) → already TimestampType.
    *  - raw INT64 / TIMESTAMP(NANOS) → nanos-as-long; `ts div 1000`
    *    (integral — a double division would lose precision at 1.7e18)
    *    truncates to the micros Spark can represent, exactly like DuckDB's
    *    NS→TIMESTAMP cast. NANOS is the footer Spark's converter rejects.
    */
  private[graft] def loadEvents(spark: SparkSession, path: String): DataFrame = {
    val footer = ParquetFooter.read(spark, path)
    val fileSchema = footer.flatMap(_.toOption)
    val schema =
      if (footer.isDefined) fileSchema
      else scala.util.Try(spark.read.parquet(path).schema).toOption
    schema.flatMap(_.find(_.name == "ts")).map(_.dataType) match {
      case Some(TimestampNTZType) =>
        read(spark, path, fileSchema).withColumn("ts", col("ts").cast(TimestampType))
      case Some(TimestampType) =>
        read(spark, path, fileSchema)
      case Some(LongType) | None => // None: TIMESTAMP(NANOS), which the converter rejects
        spark.read.schema(eventsLongSchema).parquet(path)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(other) =>
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other at $path")
    }
  }
}
