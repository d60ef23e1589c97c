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

/** The all-string schema Spark's CSV reader infers under `header=true,
  * inferSchema=false`, built on the driver from a single file's header line
  * instead of by a Spark job. `None` (a directory, a glob not matching
  * exactly one file, a file with no header line) leaves it to Spark. Lives
  * in Spark's package space: `CSVOptions` and `CSVUtils` are private[sql].
  */
object CsvHeader {
  def schema(spark: org.apache.spark.sql.SparkSession, path: String,
             options: Map[String, String]): Option[StructType] = {
    val state = spark.asInstanceOf[SparkSession].sessionState
    val conf = state.newHadoopConfWithOptions(options)
    val csv = new CSVOptions(options, state.conf.csvColumnPruning, state.conf.sessionLocalTimeZone)
    val p = new Path(path)
    Option(p.getFileSystem(conf).globStatus(p)).collect { case Array(f) if f.isFile => f.getPath }
      .flatMap { file =>
        val in = CodecStreams.createInputStream(conf, file)
        try {
          val lines = csv.lineSeparatorInRead.fold(new LineReader(in))(new LineReader(in, _))
          val text = new Text
          // CSVUtils.readHeaderLine, but skipping only the lines Spark's
          // first-line query skips: empty or all spaces (SQL trim keeps a
          // tab-only line, String.trim drops it), and comments
          Iterator.continually(lines.readLine(text)).takeWhile(_ > 0)
            .map(_ => new String(text.getBytes, 0, text.getLength, csv.charset))
            .find(l => l.exists(_ != ' ') && !(csv.isCommentSet && l.startsWith(csv.comment.toString)))
        } finally in.close()
      }
      .flatMap(line => Option(new CsvParser(csv.asParserSettings).parseLine(line)))
      .map(row => StructType(CSVUtils.makeSafeHeader(row, state.conf.caseSensitiveAnalysis, csv)
        .map(StructField(_, StringType))))
  }
}
