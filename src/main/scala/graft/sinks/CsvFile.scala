package org.apache.spark.sql.graft

import java.io.OutputStreamWriter
import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.types.StructType

/** Spark's CSV file writer as one task that says what it wrote. The
  * frame, coalesced to one partition, runs as one job whose single task
  * renders its rows with the writer's own `UnivocityGenerator` into a
  * writer in the options' charset, as `CsvOutputWriter` does, so the bytes
  * are the writer's. The file lands in `dir` under a name unique to the
  * task attempt, and the task returns that name and its row count. There
  * is no Hadoop commit protocol: no job setup, no task commit, no
  * `_temporary` renames, no `_SUCCESS`. Lives in Spark's package space:
  * `CSVOptions` and the setters of a task's output metrics are private.
  */
object CsvFile {

  /** One written file, its row count and the metrics the write's query
    * observed (`Dataset.observe`), read once the job has ended.
    */
  final case class Staged(file: Path, rows: Long, observed: Map[String, Row])

  def write(df: DataFrame, dir: String, options: Map[String, String]): Staged = {
    val conf = df.sparkSession.asInstanceOf[SparkSession].sessionState.conf
    val schema = df.schema
    // the checks Spark's file write runs before its job, in its order
    val format = new CSVFileFormat
    DataSource.validateSchema(format.toString, schema, conf)
    DataSourceUtils.verifySchema(format, schema)
    val csv = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // coalesce(1) is narrow, so it adds no shuffle: the whole stage that
    // feeds it (the scan and the transforms back to the last shuffle)
    // runs as the one task that writes the file; a frame with no
    // partition still gets that task, so a header is written
    val qe = df.coalesce(1).queryExecution
    val Array((file, rows)) = SQLExecution.withNewExecutionId(qe, Some("csv")) {
      qe.toRdd.mapPartitions(it => Iterator(writeTask(it, schema, csv, dir))).collect()
    }
    Staged(Paths.get(file), rows, qe.observedMetrics)
  }

  private def writeTask(rows: Iterator[InternalRow], schema: StructType, csv: CSVOptions,
                        dir: String): (String, Long) = {
    val ctx = TaskContext.get()
    // a failed attempt's partial file keeps its own name and is never
    // the one this attempt returns
    val file = Paths.get(dir, s"part-${ctx.taskAttemptId()}.csv")
    val gen = new UnivocityGenerator(schema, new OutputStreamWriter(
      Files.newOutputStream(file, StandardOpenOption.CREATE_NEW), Charset.forName(csv.charset)), csv)
    var n = 0L
    try {
      if (csv.headerFlag) gen.writeHeaders()
      rows.foreach { r => gen.write(r); n += 1 }
    } finally gen.close()
    // what Spark's file writer reports, so a listener-fed meter still sees the rows
    val out = ctx.taskMetrics().outputMetrics
    out.setBytesWritten(Files.size(file))
    out.setRecordsWritten(n)
    (file.toString, n)
  }
}
