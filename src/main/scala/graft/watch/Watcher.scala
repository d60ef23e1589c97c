package graft.watch

import graft.config.TaskConfig
import graft.runner.{TaskLog, TaskRunner}
import graft.tasks.Tasks
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Capture-folder watcher (reference Watcher + processors,
  * /root/reference/dasladen/processor.py:139-338): poll the capture dir,
  * process only files ADDED since the last snapshot (pre-existing files at
  * startup are never processed — snapshot at processor.py:303), routing
  * each batch zip → copy → task:
  *
  *  - zip packages: extracted to a temp dir, contents recursively routed
  *    (processor.py:265-295)
  *  - non-task files: copied into input/; `.scala`-free module routing —
  *    the reference routes `.py` to module/ (processor.py:199-226); our SPI
  *    loads compiled classes, so jars route to module/
  *  - `.json` task files: run (or scheduled), then DELETED
  *    (processor.py:186)
  */
final class Watcher(spark: SparkSession, workDir: String, log: TaskLog,
                    scheduler: Scheduler) {

  private val captureDir = s"$workDir/capture"
  private var known: Set[String] = list()

  private def list(): Set[String] =
    Option(new File(captureDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getName).toSet

  /** One poll tick: diff the dir, process added files (reference
    * Watcher.check, processor.py:330-338).
    */
  def check(): Unit = {
    val current = list()
    val added = (current -- known).toSeq.sorted
    known = current
    if (added.nonEmpty) processList(added.map(n => s"$captureDir/$n"))
  }

  /** One-shot entry (reference process_file, processor.py:321-328): copy
    * the file into capture and process it.
    */
  def processFile(path: String): Unit = {
    val name = new File(path).getName
    val dest = s"$captureDir/$name"
    if (Paths.get(path).toAbsolutePath != Paths.get(dest).toAbsolutePath)
      Files.copy(Paths.get(path), Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
    known += name
    processList(Seq(dest))
  }

  private def processList(files: Seq[String]): Unit = {
    val (zips, rest) = files.partition(_.endsWith(".zip"))
    zips.foreach(processZip)
    val (taskFiles, others) = rest.partition(TaskConfig.isTaskFile)
    others.foreach(route)
    taskFiles.foreach(processTaskFile)
  }

  private def processZip(path: String): Unit = {
    val tmp = Files.createTempDirectory("graft_pkg_").toString
    try {
      Tasks.unzipInto(path, tmp)
      val extracted = Option(new File(tmp).listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.getPath).toSeq.sorted
      processList(extracted)
      Files.deleteIfExists(Paths.get(path))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new File(tmp))
  }

  /** Non-task files route to input/ (jars to module/). */
  private def route(path: String): Unit = {
    val name = new File(path).getName
    val destDir = if (name.endsWith(".jar")) s"$workDir/module" else s"$workDir/input"
    Files.createDirectories(Paths.get(destDir))
    Files.move(Paths.get(path), Paths.get(s"$destDir/$name"),
      StandardCopyOption.REPLACE_EXISTING)
    log.write(s"Routed $name to $destDir")
  }

  private def processTaskFile(path: String): Unit = {
    try {
      val file = TaskConfig.parseFile(path)
      if (file.hasSchedule)
        scheduler.enqueue(file, path)
      else {
        log.write(s"Running task file $path")
        new TaskRunner(file, spark, workDir).run(log)
      }
    } catch {
      case e: Exception => log.write(s"Error processing $path: ${e.getMessage}")
    } finally {
      // reference deletes the task file after processing (processor.py:186);
      // scheduled files were already parsed into memory.
      Files.deleteIfExists(Paths.get(path))
      ()
    }
  }
}
