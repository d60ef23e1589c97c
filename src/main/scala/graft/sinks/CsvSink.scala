package graft.sinks

import graft.config.TaskConfig.Node
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.DataFrame

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

  def write(df: DataFrame, targetFile: String, node: Node, truncate: Boolean): Unit = {
    val sep = node.str("delimiter", ";")
    val enc = node.str("encoding", "utf-8")
    val singleFile = node.bool("single_file", default = true)
    if (singleFile) writeSingle(df, targetFile, sep, enc, truncate)
    else {
      val writer = df.write
        .option("header", truncate.toString) // append carries no header (petl appendcsv)
        .option("sep", sep)
        .option("encoding", enc)
        .option("emptyValue", "") // same cell serialization as single-file mode
        .mode(if (truncate) "overwrite" else "append")
      writer.csv(targetFile)
    }
  }

  private def writeSingle(df: DataFrame, targetFile: String, sep: String,
                          enc: String, truncate: Boolean): Unit = {
    val tmp = Files.createTempDirectory("graft_csv_").toString
    val tmpOut = s"$tmp/out"
    // coalesce(1) is narrow, so it adds no shuffle: the whole stage that
    // feeds it (the scan and the transforms back to the last shuffle)
    // runs as the one task that writes the single file
    try {
      df.coalesce(1).write
        .option("header", truncate.toString)
        .option("sep", sep)
        .option("encoding", enc)
        .option("emptyValue", "")
        .csv(tmpOut)
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
    } finally deleteRecursively(new File(tmp))
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
