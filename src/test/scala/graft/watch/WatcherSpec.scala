package graft.watch

import graft.SparkSpec
import graft.runner.TaskLog
import java.io.{File, FileOutputStream}
import java.nio.file.{Files, Paths}

/** Zip packages through the capture pipeline (reference
  * processor.py:265-295): a dropped zip is extracted and each file in it
  * is routed like a directly captured one — data files to input/, task
  * files run.
  */
class WatcherSpec extends SparkSpec {

  private def zip(path: String, entries: Seq[(String, String)]): Unit = {
    val zos = new java.util.zip.ZipOutputStream(new FileOutputStream(path))
    try entries.foreach { case (name, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  test("zip package: CSV routed to input/, task runs, no graft_pkg_ temp dir left behind") {
    val wd = tmpDir("graft_watchzip_")
    Seq("capture", "input", "output", "log")
      .foreach(d => Files.createDirectories(Paths.get(s"$wd/$d")))
    val watcher = new Watcher(spark, wd, TaskLog.Silent,
      new Scheduler(spark, wd, TaskLog.Silent))
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    def pkgTempDirs(): Int =
      tmpRoot.listFiles().count(_.getName.startsWith("graft_pkg_"))
    val before = pkgTempDirs()
    val csv = "name;bal\nalice;10\nbob;2000\n"
    zip(s"$wd/capture/pkg.zip", Seq(
      "people.csv" -> csv,
      "task.json" ->
        """{"tasks": [{
          |  "type": "csv-csv", "name": "pkg",
          |  "source": {"file": "people.csv"},
          |  "target": {"file": "out.csv", "truncate": true}
          |}]}""".stripMargin))
    watcher.check()
    assert(Files.readString(Paths.get(s"$wd/input/people.csv")) == csv,
      "the package's CSV must land in input/")
    val out = Files.readString(Paths.get(s"$wd/output/out.csv"))
    assert(out == csv, s"the package's task must write its output, got:\n$out")
    assert(!Files.exists(Paths.get(s"$wd/capture/pkg.zip")))
    assert(pkgTempDirs() == before, "the zip package leaked its graft_pkg_ temp dir")
  }
}
