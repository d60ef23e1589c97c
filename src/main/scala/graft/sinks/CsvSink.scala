package graft.sinks

import graft.config.TaskConfig.Node
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CsvFile

/** CSV sink with the reference's file semantics (petl tocsv/appendcsv,
  * /root/reference/dasladen/task.py:199-202 et al.):
  *
  *  - truncate: replace the file, header + rows
  *  - append: append DATA ROWS ONLY — no header, even onto a missing file
  *
  * Two modes (SURVEY.md §7.5 item 3):
  *  - parity (default): ONE file at the target path. One Spark job over
  *    the frame coalesced to one partition: its single task streams the
  *    header (truncate only) and the rows, rendered by Spark's own CSV
  *    generator, into a file in a `graft_csv_` temp directory and returns
  *    the file and its row count ([[org.apache.spark.sql.graft.CsvFile]]).
  *    The driver then moves (truncate) or byte-appends (append) that file
  *    alone. The bytes are those of `coalesce(1).write.csv`, without
  *    Hadoop's commit protocol; neither side buffers the rows. Right for
  *    task-DSL outputs, wrong for 100 TB.
  *  - distributed ("single_file": false): native partitioned-directory
  *    write — the scalable path (header per part on overwrite; Spark's
  *    append mode for appends).
  */
object CsvSink {

  /** Writes `df` to `targetFile`, as one file ([[writeSingle]]) unless
    * the node sets `"single_file": false`.
    */
  def write(df: DataFrame, targetFile: String, node: Node, truncate: Boolean): Unit =
    if (node.bool("single_file", default = true)) { writeSingle(df, targetFile, node, truncate); () }
    else df.write.options(options(node, truncate)).mode(if (truncate) "overwrite" else "append")
      .csv(targetFile)

  /** Writes `df` as the one file `targetFile`. Passes the metrics its job
    * observed (`Dataset.observe`) to `keep` once the job has run: false
    * drops the staged file and leaves the target untouched. Returns the
    * rows put into the target, None when the write was dropped.
    */
  def writeSingle(df: DataFrame, targetFile: String, node: Node, truncate: Boolean,
                  keep: Map[String, Row] => Boolean = _ => true): Option[Long] = {
    val tmp = Files.createTempDirectory("graft_csv_")
    try {
      val staged = CsvFile.write(df, tmp.toString, options(node, truncate))
      if (!keep(staged.observed)) None
      else {
        val target = Paths.get(targetFile)
        Option(target.getParent).foreach(Files.createDirectories(_))
        if (truncate)
          Files.move(staged.file, target, StandardCopyOption.REPLACE_EXISTING)
        else {
          // stream the file into the target — never buffer it in driver memory
          val out = Files.newOutputStream(target,
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          try Files.copy(staged.file, out) finally out.close()
        }
        Some(staged.rows)
      }
    } finally deleteRecursively(tmp.toFile)
  }

  // append carries no header (petl appendcsv), and an empty string is
  // written as an empty cell
  private def options(node: Node, truncate: Boolean): Map[String, String] = Map(
    "header" -> truncate.toString,
    "sep" -> node.str("delimiter", ";"),
    "encoding" -> node.str("encoding", "utf-8"),
    "emptyValue" -> "")

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
