package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils
import scala.util.Try

/** The schema Spark's parquet reader infers for a single file, found on
  * the driver from the file's footer instead of by a Spark job. It takes
  * the steps of `ParquetFileFormat.mergeSchemasInParallel` for one file:
  * the footer read without row groups, then `readSchemaFromFooter`, which
  * prefers the Spark row-metadata key and otherwise converts the parquet
  * schema with the converter that inference builds from the session
  * conf (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
  * `nanosAsLong`, unknown-annotation handling).
  *
  * `None`: the path is not exactly one regular file Spark's listing
  * keeps (a directory, a glob matching none or several, a missing path,
  * a hidden name), so Spark's own listing and footer choice apply.
  * `Some(Failure)`: those steps reject the footer, as inference would
  * (TIMESTAMP(NANOS) while `nanosAsLong` is off, a corrupt file). Lives
  * in Spark's package space: `HadoopFSUtils` is private[spark].
  */
object ParquetFooter {
  def read(spark: org.apache.spark.sql.SparkSession, path: String): Option[Try[StructType]] = {
    val state = spark.asInstanceOf[SparkSession].sessionState
    val conf = state.newHadoopConf()
    val p = new Path(path)
    Try(Option(p.getFileSystem(conf).globStatus(p))).toOption.flatten
      .collect { case Array(f) if f.isFile && !HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName) => f }
      .map { file =>
        Try {
          val sql = state.conf
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sql.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
            nanosAsLong = sql.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
          val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
        }
      }
  }
}
