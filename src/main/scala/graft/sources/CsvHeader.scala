package org.apache.spark.sql.graft

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** What Spark's CSV reader makes of a single file under `header=true,
  * inferSchema=false`, found on the driver instead of by a Spark job: the
  * all-string schema its header inference builds, and whether its data
  * path yields any row. The read stops at the first data row. `None` (a
  * directory, a glob not matching exactly one file, a file with no header
  * line) leaves both to Spark. Lives in Spark's package space:
  * `CSVOptions` and `CSVUtils` are private[sql].
  */
object CsvHeader {
  private val Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  def read(spark: org.apache.spark.sql.SparkSession, path: String,
           options: Map[String, String]): Option[(StructType, Boolean)] = {
    val state = spark.asInstanceOf[SparkSession].sessionState
    val conf = state.newHadoopConfWithOptions(options)
    val csv = new CSVOptions(options, state.conf.csvColumnPruning, state.conf.sessionLocalTimeZone)
    val p = new Path(path)
    Option(p.getFileSystem(conf).globStatus(p)).collect { case Array(f) if f.isFile => f.getPath }
      .flatMap { file =>
        val in = CodecStreams.createInputStream(conf, file)
        try {
          val reader = csv.lineSeparatorInRead.fold(new LineReader(in))(new LineReader(in, _))
          val text = new Text
          val lines = Iterator.continually(reader.readLine(text)).takeWhile(_ > 0).zipWithIndex
            .map { case (_, i) =>
              // Hadoop's LineRecordReader, which feeds both of Spark's
              // reads, drops a UTF-8 byte order mark from the first line
              val skip = if (i == 0 && text.getLength >= 3 && text.getBytes.startsWith(Bom)) 3 else 0
              new String(text.getBytes, skip, text.getLength - skip, csv.charset)
            }
            .filterNot(l => csv.isCommentSet && l.startsWith(csv.comment.toString))
          // CSVUtils.readHeaderLine, but skipping only the lines Spark's
          // first-line query skips: empty or all spaces (SQL trim keeps a
          // tab-only line, String.trim drops it)
          val rest = lines.dropWhile(!_.exists(_ != ' '))
          rest.nextOption().map { header =>
            // the data path (CSVExprUtils) drops every line whose
            // String.trim is empty, then the first line left as the
            // header: any later line is a row
            (header, (Iterator(header) ++ rest).filter(_.trim.nonEmpty).drop(1).hasNext)
          }
        } finally in.close()
      }
      .flatMap { case (line, rows) =>
        Option(new CsvParser(csv.asParserSettings).parseLine(line)).map { cells =>
          (StructType(CSVUtils.makeSafeHeader(cells, state.conf.caseSensitiveAnalysis, csv)
            .map(StructField(_, StringType))), rows)
        }
      }
  }
}
