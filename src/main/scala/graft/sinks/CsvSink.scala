package graft.sinks

import graft.config.TaskConfig.Node
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** CSV sink with the reference's file semantics (petl tocsv/appendcsv,
  * /root/reference/dasladen/task.py:199-202 et al.):
  *
  *  - truncate: replace the file, header + rows
  *  - append: append DATA ROWS ONLY — no header, even onto a missing file
  *
  * Two modes (SURVEY.md §7.5 item 3):
  *  - parity (default): ONE file at the target path. Spark writes a temp
  *    directory; the part file is moved (truncate) or byte-appended
  *    (append) on the driver. Right for task-DSL outputs, wrong for 100 TB.
  *  - distributed ("single_file": false): native partitioned-directory
  *    write — the scalable path (header per part on overwrite; Spark's
  *    append mode for appends).
  */
object CsvSink {

  /** `keep` is read once a single-file write's job has run: false drops
    * the staged output and leaves the target untouched. A distributed
    * write cannot be taken back and ignores it.
    */
  def write(df: DataFrame, targetFile: String, node: Node, truncate: Boolean,
            keep: => Boolean = true): Unit = {
    val sep = node.str("delimiter", ";")
    val enc = node.str("encoding", "utf-8")
    val singleFile = node.bool("single_file", default = true)
    if (singleFile) writeSingle(df, targetFile, sep, enc, truncate, keep)
    else csvWriter(df, sep, enc, truncate)
      .mode(if (truncate) "overwrite" else "append")
      .csv(targetFile)
  }

  /** The writer options both modes share: append carries no header
    * (petl appendcsv), and an empty string is written as an empty cell.
    */
  private def csvWriter(df: DataFrame, sep: String, enc: String,
                        truncate: Boolean): DataFrameWriter[Row] =
    df.write
      .option("header", truncate.toString)
      .option("sep", sep)
      .option("encoding", enc)
      .option("emptyValue", "")

  private def writeSingle(df: DataFrame, targetFile: String, sep: String,
                          enc: String, truncate: Boolean, keep: => Boolean): Unit = {
    val tmp = Files.createTempDirectory("graft_csv_").toString
    val tmpOut = s"$tmp/out"
    // coalesce(1) is narrow, so it adds no shuffle: the whole stage that
    // feeds it (the scan and the transforms back to the last shuffle)
    // runs as the one task that writes the single file
    try {
      csvWriter(df.coalesce(1), sep, enc, truncate).csv(tmpOut)
      if (keep) {
        val part = new File(tmpOut).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
          .getOrElse(throw new IllegalStateException(s"no part file produced in $tmpOut"))
        val target = Paths.get(targetFile)
        Option(target.getParent).foreach(Files.createDirectories(_))
        if (truncate)
          Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
        else {
          // stream the part into the target — never buffer the whole file in
          // driver memory
          val out = Files.newOutputStream(target,
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          try Files.copy(part.toPath, out) finally out.close()
        }
      }
    } finally deleteRecursively(new File(tmp))
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
