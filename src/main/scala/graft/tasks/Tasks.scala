package graft.tasks

import graft.config.TaskConfig.Node
import graft.connections.Connections
import graft.runner.{ProgressMeter, TaskLog}
import graft.sinks.CsvSink
import graft.sources.Sources
import graft.transform.Transforms
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Execution context shared by all tasks: the session, the connection
  * registry, and the working directory holding the reference's standard
  * folders (input/, output/, log/, module/ — base.py:19-25).
  */
final case class TaskContext(spark: SparkSession, connections: Connections, workDir: String) {
  def dir(sub: String): String =
    if (Paths.get(sub).isAbsolute) sub else s"$workDir/$sub"
  def logDir: String = dir("log")
}

/** Task contract (reference BaseTask.run, task.py:83-92). */
trait Task {
  def run(ctx: TaskContext, task: Node, log: TaskLog): Unit
}

/** SPI for user-defined tasks (reference `custom`, task.py:545-555). */
trait CustomTask {
  def run(ctx: TaskContext, task: Node, log: TaskLog): Unit
}

/** The 7 ETL pipeline shapes + non-pipeline tasks
  * (TaskFactory._tasks, task.py:577-594), Spark-first.
  *
  * Shared ETL semantics (SURVEY.md §2.2/§2.4):
  *  - empty source → "Task skipped. No rows on source", sink untouched,
  *    no per-task log file. The reference runs the source twice to learn
  *    this (task.py:181); graft asks the cheapest place that knows:
  *     - a single-file CSV source is read on the driver up to its first
  *       data row ([[Sources.csvWithRows]]), so no Spark job runs;
  *     - any other source into a single-file CSV target is counted by
  *       a named `observe` node in the write job itself. The count is
  *       read from that job's own `observedMetrics` once its `collect()`
  *       returns, with no wait on the listener bus; the staged file waits
  *       in a temp dir and is dropped when the count is 0;
  *     - everything else (a CSV directory, a distributed CSV or a JDBC
  *       target, the pipeline sinks, whose writes cannot be taken back)
  *       probes with `isEmpty`, one lightweight job.
  *  - so a CSV-sourced task runs one Spark job, the sink's write: the
  *    header is read on the driver too, and the transform block is
  *    analysed as one projection per step.
  *  - transform block order fixed: modules → convert → filter → remove →
  *    rename.
  *  - truncate vs append per sink type.
  *  - per-task log file `log/<type>_<name>_<ts>.log`.
  */
object Tasks {

  private val NoRows = "Task skipped. No rows on source"
  // the name of the source count a staged CSV write observes
  private val SourceRows = "graft_source_rows"

  /** Runs one ETL task: `source` gives the frame and, when known without
    * a Spark job, whether it holds a row.
    */
  private[tasks] def etl(ctx: TaskContext, task: Node, log: TaskLog, taskType: String)
                 (source: => (DataFrame, Option[Boolean]))
                 (sink: (DataFrame, TaskLog, ProgressMeter) => Unit): Unit = {
    val (df, hasRows) = source
    val staged = sink match {
      case t: CsvTarget if t.staged => Some(t)
      case _ => None
    }
    // with no driver-side answer, a staged CSV target counts the source in
    // its own write job instead; a frame with no columns cannot be written
    // as CSV (an XML source with no row), so only a probe can skip it
    val counted = staged.nonEmpty && hasRows.isEmpty && df.columns.nonEmpty
    if (!hasRows.getOrElse(counted || !df.isEmpty)) log.write(NoRows)
    else {
      // counted below the transforms: a filter that drops every row
      // still writes, as with a probed source
      val out = Transforms(if (counted) df.observe(SourceRows, count(lit(1))) else df,
        task, log, Some(ctx.workDir))
      // the count is read from the write job's own observed metrics; a
      // plan that pruned it away (a constant-false filter above the
      // source) falls back to a probe
      def keep(observed: Map[String, Row]): Boolean =
        !counted || observed.get(SourceRows).fold(!df.isEmpty)(_.getLong(0) != 0L)
      val taskLog = TaskLog.forTask(ctx.logDir, taskType, task.str("name", "task"))
      // K5 progress metering (task.py:200): 10k-row ticks into the
      // per-task log, plus a final total line. A staged CSV write returns
      // its row count, recorded once the file has landed (none when the
      // write is dropped); any other sink is metered while its job runs.
      val meter = new ProgressMeter(taskLog)
      val written =
        try staged match {
          case Some(t) =>
            val rows = t.writeStaged(out, taskLog, keep)
            rows.foreach(meter.record)
            rows.nonEmpty
          case None =>
            meter.metered(ctx.spark)(sink(out, taskLog, meter))
            true
        } finally taskLog.close()
      if (!written) log.write(NoRows)
    }
  }

  private def csvSource(ctx: TaskContext, task: Node, defaultFolder: String)
      : (DataFrame, Option[Boolean]) = {
    val src = task("source")
    val folder = src.str("folder", defaultFolder)
    Sources.csvWithRows(ctx.spark, s"${ctx.dir(folder)}/${src.str("file")}", src)
  }

  /** A CSV target. A single-file one (the default) is `staged`: its write
    * job lands in a temp dir that is merged into the target afterwards,
    * so the write can still be dropped once the job has run.
    */
  private[tasks] final case class CsvTarget(ctx: TaskContext, task: Node)
      extends ((DataFrame, TaskLog, ProgressMeter) => Unit) {
    private val tgt = task("target")
    val staged: Boolean = tgt.bool("single_file", default = true)

    private def out = s"${ctx.dir(tgt.str("folder", "output"))}/${tgt.str("file")}"
    private def truncate = tgt.bool("truncate")

    // rows reach a meter listening around this write through the write
    // tasks' output metrics
    def apply(df: DataFrame, lg: TaskLog, meter: ProgressMeter): Unit = {
      CsvSink.write(df, out, tgt, truncate)
      wrote(lg)
    }

    /** Writes `df` to a staged target: hands the write job's observed
      * metrics to `keep` and leaves the target untouched when it is false.
      * Returns the rows put into the target, None when dropped.
      */
    def writeStaged(df: DataFrame, lg: TaskLog, keep: Map[String, Row] => Boolean): Option[Long] = {
      val rows = CsvSink.writeSingle(df, out, tgt, truncate, keep)
      if (rows.nonEmpty) wrote(lg)
      rows
    }

    private def wrote(lg: TaskLog): Unit = lg.write(s"wrote $out (truncate=$truncate)")
  }

  private def dbTarget(ctx: TaskContext, task: Node)
                      (df: DataFrame, lg: TaskLog, meter: ProgressMeter): Unit = {
    val tgt = task("target")
    val conn = ctx.connections.get(tgt.str("connection"))
    // JDBC writes report no output metrics — meter.wrap counts rows in-task.
    val counted = if (ctx.connections.isInternal(conn)) df else meter.wrap(df)
    ctx.connections.writeTable(conn, counted, tgt.str("table"),
      tgt.strOpt("schema"), tgt.bool("truncate"))
    lg.write(s"wrote table ${tgt.str("table")}")
  }

  private def sqlSource(ctx: TaskContext, task: Node): DataFrame = {
    val src = task("source")
    val conn = ctx.connections.get(src.str("connection"))
    val sql = Sources.parseSql(src.copy(j = patchPath(ctx, src)))
    ctx.connections.readSql(conn, sql)
  }

  // query-file path resolution must go through the work dir
  private def patchPath(ctx: TaskContext, src: Node): org.json4s.JValue = {
    import org.json4s.JsonDSL._
    import org.json4s._
    val p = src.str("path", "input")
    src.j.merge(("path" -> ctx.dir(p)): JObject)
  }

  private def xmlSource(ctx: TaskContext, task: Node): DataFrame = {
    val src = task("source")
    val path = s"${ctx.dir(src.str("folder", "input"))}/${src.str("file")}"
    val row = src.strOpt("row")
    val value = src.strOpt("value")
    val mapping = src.objMap("mapping")
    (row, value) match {
      case (Some(r), Some(v)) =>
        Sources.xmlValueForm(ctx.spark, path, r, v, src.strOpt("attr"))
      case (Some(r), None) if mapping.nonEmpty =>
        Sources.xmlMappingForm(ctx.spark, path, r, mapping)
      case _ =>
        // reference raises ValueError (task.py:369,411)
        throw new IllegalArgumentException("Incorrect parameter for source")
    }
  }

  object DbCsv extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "db-csv")((sqlSource(ctx, task), None))(CsvTarget(ctx, task))
  }

  object CsvDb extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "csv-db")(csvSource(ctx, task, "input"))(dbTarget(ctx, task))
  }

  object DbDb extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "db-db")((sqlSource(ctx, task), None))(dbTarget(ctx, task))
  }

  object CsvCsv extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "csv-csv")(csvSource(ctx, task, "input"))(CsvTarget(ctx, task))
  }

  object XmlCsv extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "xml-csv")((xmlSource(ctx, task), None))(CsvTarget(ctx, task))
  }

  object XmlDb extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "xml-db")((xmlSource(ctx, task), None))(dbTarget(ctx, task))
  }

  object XlsCsv extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      etl(ctx, task, log, "xls-csv") {
        val src = task("source")
        val path = s"${ctx.dir(src.str("folder", "input"))}/${src.str("file")}"
        // use_view default true, the reference's (task.py:325-326)
        (graft.sources.XlsReader.read(ctx.spark, path, src.strOpt("sheet"),
          src.bool("use_view", default = true)), None)
      }(CsvTarget(ctx, task))
  }

  object SqlExec extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val conn = ctx.connections.get(task("target").str("connection"))
      val sql = Sources.parseSql(task("source").copy(j = patchPath(ctx, task("source"))))
      ctx.connections.execSql(conn, sql)
      log.write("sql-exec completed")
    }
  }

  object Download extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val src = task("source")
      val tgt = task("target")
      val target = s"${ctx.dir(tgt.str("path", "output"))}/${tgt.str("file")}"
      val params = src.objMap("params").collect { case (k, org.json4s.JString(v)) => k -> v }
      val headers = src.objMap("headers").collect { case (k, org.json4s.JString(v)) => k -> v }
      val n = Sources.download(src.str("url"), params, headers, target)
      log.write(s"Download complete. $n bytes saved")
    }
  }

  /** Zip listed files (deflate). Reference intent: members come from
    * `source.path` (the snapshot reads them from target_path — a defect
    * when the two differ, task.py:484 vs 467-468; SURVEY.md §2.8 defect 4).
    * Member names keep the reference's cp437-with-?→_ mangling
    * (task.py:461-463).
    */
  object Zip extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val src = task("source")
      val files = src.strArr("files")
      if (files.isEmpty)
        throw new IllegalArgumentException(
          "zip task requires a non-empty source.files array")
      val sourcePath = ctx.dir(src.str("path", "output"))
      val (targetName, targetPath) =
        if (task.has("target")) {
          val t = task("target")
          (t.str("file", s"${files.head}.zip"), ctx.dir(t.str("path", src.str("path", "output"))))
        } else (s"${files.head}.zip", sourcePath)
      val target = if (targetName.endsWith(".zip")) targetName else s"$targetName.zip"
      val zipPath = s"$targetPath/$target"
      val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(zipPath)))
      try files.foreach { f =>
        val name = new String(
          f.getBytes("cp437"), "cp437").replace('?', '_')
        zos.putNextEntry(new ZipEntry(name))
        Files.copy(Paths.get(s"$sourcePath/$f"), zos)
        zos.closeEntry()
      } finally zos.close()
      src.strArr("remove_after").foreach(f => Files.deleteIfExists(Paths.get(s"$sourcePath/$f")))
      log.write(s"zipped ${files.size} files to $zipPath")
    }
  }

  /** Unzip; `remove_after` deletes the archive at its real source path
    * (the reference deletes bare `source` relative to CWD — defect,
    * task.py:507; SURVEY.md §2.8 defect 4).
    */
  object Unzip extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val src = task("source")
      val sourcePath = ctx.dir(src.str("path", "input"))
      val archive = s"$sourcePath/${src.str("file")}"
      val targetPath =
        if (task.has("target")) ctx.dir(task("target").str("path", src.str("path", "input")))
        else sourcePath
      unzipInto(archive, targetPath)
      if (src.bool("remove_after")) Files.deleteIfExists(Paths.get(archive))
      log.write(s"unzipped $archive to $targetPath")
    }
  }

  def unzipInto(archive: String, targetPath: String): Unit = {
    val zf = new ZipFile(archive)
    try {
      val targetRoot = Paths.get(targetPath).toAbsolutePath.normalize
      zf.entries().asIterator().forEachRemaining { e =>
        val out = targetRoot.resolve(e.getName).normalize
        if (!out.startsWith(targetRoot))
          throw new java.io.IOException(s"zip entry escapes target dir: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(out)
        else {
          Option(out.getParent).foreach(Files.createDirectories(_))
          val in = zf.getInputStream(e)
          try Files.copy(in, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
        }
      }
    } finally zf.close()
  }

  /** FTP upload (reference task.py:441-456, ftputil upload_if_newer).
    * Minimal RFC 959 client over java.net (no FTP lib ships offline):
    * uploads when the remote file is missing or older than the local one.
    */
  object FtpUpload extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val src = task("source")
      val localPath = s"${ctx.dir(src.str("path", "output"))}/${src.str("file")}"
      val tgt = task("target")
      val remotePath = s"${tgt.str("path")}/${tgt.str("file", src.str("file"))}"
      val conn = ctx.connections.get(tgt.str("connection"))
      val client = new graft.sinks.FtpClient(
        conn.str("host"), conn.int("port", 21),
        conn.str("user", "anonymous"), conn.str("pass", ""))
      try {
        val localMtime = Files.getLastModifiedTime(Paths.get(localPath)).toMillis
        val shouldUpload = client.mdtm(remotePath) match {
          case Some(remote) => localMtime > remote
          case None         => true
        }
        if (shouldUpload) {
          client.store(remotePath, Files.readAllBytes(Paths.get(localPath)))
          log.write(s"uploaded $localPath -> $remotePath")
        } else log.write(s"skipped upload (remote newer): $remotePath")
      } finally client.close()
    }
  }

  /** The py-exec escape hatch (task.py:510-524): reflectively invoke a
    * Scala/Java `main(Array[String])` with argv from config.
    */
  object Exec extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val src = task("source")
      val moduleName = src.str("module")
      val args = src.strArr("args").toArray
      // module/ jars are consulted after the launch classpath — the
      // drop-in surface (ModuleClasspath); try the Scala-object form
      // first, then a plain Java class with a static main
      val loaded =
        try Left(graft.transform.ModuleClasspath
          .classFor(moduleName + "$", Some(ctx.workDir)))
        catch { case _: ClassNotFoundException =>
          Right(graft.transform.ModuleClasspath
            .classFor(moduleName, Some(ctx.workDir)))
        }
      loaded match {
        case Left(cls) => // Scala object
          val instance = cls.getField("MODULE$").get(null)
          cls.getMethod("main", classOf[Array[String]]).invoke(instance, args)
        case Right(cls) => // Java-style static main
          cls.getMethod("main", classOf[Array[String]])
            .invoke(null, args)
      }
      log.write(s"executed $moduleName")
    }
  }

  object Custom extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      log.write("Loading custom task.")
      val cls = graft.transform.ModuleClasspath
        .classFor(task.str("module"), Some(ctx.workDir))
      val instance = cls.getDeclaredConstructor().newInstance().asInstanceOf[CustomTask]
      instance.run(ctx, task, log)
    }
  }

  object Nop extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      log.write("Nothing to do. Disabled task? Check it John Snow!")
  }

  /** Task-type dispatch (reference TaskFactory, task.py:577-599). */
  val factory: Map[String, Task] = Map(
    "db-csv"     -> DbCsv,
    "csv-db"     -> CsvDb,
    "db-db"      -> DbDb,
    "csv-csv"    -> CsvCsv,
    "xls-csv"    -> XlsCsv,
    "xml-csv"    -> XmlCsv,
    "xml-db"     -> XmlDb,
    "ftp-upload" -> FtpUpload,
    "zip"        -> Zip,
    "unzip"      -> Unzip,
    "exec"       -> Exec,
    "py-exec"    -> Exec, // reference name kept as an alias
    "sql-exec"   -> SqlExec,
    "nop"        -> Nop,
    "custom"     -> Custom,
    "download"   -> Download,
    // LLM-curation families as first-class task types (PipelineTasks)
    "dedup"      -> PipelineTasks.DedupTask,
    "excise"     -> PipelineTasks.ExciseTask,
    "sample"     -> PipelineTasks.SampleTask,
    "split"      -> PipelineTasks.SplitTask,
    "cap"        -> PipelineTasks.CapTask,
    "pack"       -> PipelineTasks.PackTask,
    "pack_ids"   -> PipelineTasks.PackIdsTask,
    "chunk"      -> PipelineTasks.ChunkTask,
    "shuffle"    -> PipelineTasks.ShuffleTask,
    "curate"     -> PipelineTasks.CurateTask,
    "compact"    -> PipelineTasks.CompactTask,
    "rebuild"    -> PipelineTasks.RebuildTask,
    "fit"        -> PipelineTasks.FitTask,
    "score"      -> PipelineTasks.ScoreTask,
    "drift"      -> PipelineTasks.DriftTask,
    "gopher"     -> PipelineTasks.GopherTask,
    "intake"     -> PipelineTasks.IntakeTask,
    "warc"       -> PipelineTasks.WarcTask,
    "block"      -> PipelineTasks.BlockTask)

  def get(taskType: String): Task =
    factory.getOrElse(taskType,
      throw new IllegalArgumentException(s"unknown task type: $taskType"))
}
