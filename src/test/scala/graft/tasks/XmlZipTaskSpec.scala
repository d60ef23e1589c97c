package graft.tasks

import graft.SparkSpec
import graft.runner.{TaskLog, TaskRunner}
import java.nio.file.{Files, Paths}

class XmlZipTaskSpec extends SparkSpec {

  private def setup(): String = {
    val wd = tmpDir("graft_xml_")
    Seq("input", "output", "log").foreach(d => Files.createDirectories(Paths.get(s"$wd/$d")))
    wd
  }

  private def run(wd: String, json: String): Unit = {
    val f = s"$wd/task.json"
    Files.writeString(Paths.get(f), json)
    TaskRunner.runFile(f, spark, wd, TaskLog.Silent)
  }

  test("xml-csv value form: first row is the header") {
    val wd = setup()
    Files.writeString(Paths.get(s"$wd/input/t.xml"),
      """<table>
        |  <tr><td>name</td><td>qty</td></tr>
        |  <tr><td>apple</td><td>5</td></tr>
        |  <tr><td>pear</td><td>7</td></tr>
        |</table>""".stripMargin)
    run(wd,
      """{"tasks": [{
        |  "type": "xml-csv", "name": "x1",
        |  "source": {"file": "t.xml", "row": "tr", "value": "td"},
        |  "target": {"file": "out.csv", "truncate": true, "delimiter": ","}
        |}]}""".stripMargin)
    assert(Files.readString(Paths.get(s"$wd/output/out.csv")) ==
      "name,qty\napple,5\npear,7\n")
  }

  test("xml-csv value form with attribute extraction") {
    val wd = setup()
    Files.writeString(Paths.get(s"$wd/input/a.xml"),
      """<t>
        |  <tr><td v="h1"/><td v="h2"/></tr>
        |  <tr><td v="1"/><td v="2"/></tr>
        |</t>""".stripMargin)
    run(wd,
      """{"tasks": [{
        |  "type": "xml-csv", "name": "x2",
        |  "source": {"file": "a.xml", "row": "tr", "value": "td", "attr": "v"},
        |  "target": {"file": "out.csv", "truncate": true, "delimiter": ","}
        |}]}""".stripMargin)
    assert(Files.readString(Paths.get(s"$wd/output/out.csv")) == "h1,h2\n1,2\n")
  }

  test("xml-csv mapping form via the distributed XML source") {
    val wd = setup()
    Files.writeString(Paths.get(s"$wd/input/m.xml"),
      """<rows>
        |  <row id="1"><nm>alice</nm><bal>10</bal></row>
        |  <row id="2"><nm>bob</nm><bal>20</bal></row>
        |</rows>""".stripMargin)
    run(wd,
      """{"tasks": [{
        |  "type": "xml-csv", "name": "x3",
        |  "source": {"file": "m.xml", "row": "row",
        |             "mapping": {"name": "nm", "balance": "bal", "rid": [".", "id"]}},
        |  "target": {"file": "out.csv", "truncate": true, "delimiter": ","}
        |}]}""".stripMargin)
    val lines = Files.readString(Paths.get(s"$wd/output/out.csv")).linesIterator.toSeq
    assert(lines.head.split(",").toSet == Set("name", "balance", "rid"))
    assert(lines.size == 3)
  }

  test("xml-csv value form with no data row skips the task: no output, no per-task log") {
    val wd = setup()
    Files.writeString(Paths.get(s"$wd/input/none.xml"), "<table></table>")
    Files.writeString(Paths.get(s"$wd/input/head.xml"),
      "<table><tr><td>name</td><td>qty</td></tr></table>")
    run(wd,
      """{"tasks": [
        |  {"type": "xml-csv", "name": "none",
        |   "source": {"file": "none.xml", "row": "tr", "value": "td"},
        |   "target": {"file": "none.csv", "truncate": true}},
        |  {"type": "xml-csv", "name": "head",
        |   "source": {"file": "head.xml", "row": "tr", "value": "td"},
        |   "target": {"file": "head.csv", "truncate": true}}
        |]}""".stripMargin)
    assert(!Files.exists(Paths.get(s"$wd/output/none.csv")))
    assert(!Files.exists(Paths.get(s"$wd/output/head.csv")))
    assert(Files.list(Paths.get(s"$wd/log")).count() == 0)
  }

  test("missing row/value/mapping raises like the reference ValueError") {
    val wd = setup()
    Files.writeString(Paths.get(s"$wd/input/b.xml"), "<t><tr><td>x</td></tr></t>")
    assertThrows[IllegalArgumentException] {
      run(wd,
        """{"tasks": [{
          |  "type": "xml-csv", "name": "bad",
          |  "source": {"file": "b.xml", "row": "tr"},
          |  "target": {"file": "out.csv"}
          |}]}""".stripMargin)
    }
  }

  test("zip then unzip round-trips; remove_after honors source path") {
    val wd = setup()
    Files.writeString(Paths.get(s"$wd/output/a.txt"), "hello")
    Files.writeString(Paths.get(s"$wd/output/b.txt"), "world")
    run(wd,
      """{"tasks": [
        |  {"type": "zip", "name": "z",
        |   "source": {"files": ["a.txt", "b.txt"], "path": "output",
        |              "remove_after": ["a.txt", "b.txt"]},
        |   "target": {"file": "pack.zip", "path": "output"}},
        |  {"type": "unzip", "name": "u",
        |   "source": {"file": "pack.zip", "path": "output", "remove_after": true},
        |   "target": {"path": "input"}}
        |]}""".stripMargin)
    assert(!Files.exists(Paths.get(s"$wd/output/a.txt")), "remove_after should delete originals")
    assert(!Files.exists(Paths.get(s"$wd/output/pack.zip")), "unzip remove_after should delete archive")
    assert(Files.readString(Paths.get(s"$wd/input/a.txt")) == "hello")
    assert(Files.readString(Paths.get(s"$wd/input/b.txt")) == "world")
  }

  test("zip task with empty files array fails with a clear message") {
    val wd = setup()
    val e = intercept[IllegalArgumentException] {
      run(wd,
        """{"tasks": [{"type": "zip", "name": "z",
          |  "source": {"files": [], "path": "output"},
          |  "target": {"file": "pack.zip", "path": "output"}}]}""".stripMargin)
    }
    assert(e.getMessage.contains("non-empty"))
    assert(!Files.exists(Paths.get(s"$wd/output/pack.zip")), "no empty zip left behind")
  }

  test("custom task SPI and exec task dispatch") {
    val wd = setup()
    run(wd,
      s"""{"tasks": [
         |  {"type": "custom", "name": "c", "module": "graft.tasks.MarkerTask",
         |   "args": {"file": "$wd/output/marker.txt"}}
         |]}""".stripMargin)
    assert(Files.exists(Paths.get(s"$wd/output/marker.txt")))
  }
}

/** Fixture for the custom-task SPI (reference `custom`, task.py:545-555). */
class MarkerTask extends CustomTask {
  def run(ctx: TaskContext, task: graft.config.TaskConfig.Node,
          log: graft.runner.TaskLog): Unit = {
    val path = task("args").str("file")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), "ran")
    ()
  }
}
