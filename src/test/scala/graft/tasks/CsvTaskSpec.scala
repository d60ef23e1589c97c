package graft.tasks

import graft.SparkSpec
import graft.config.TaskConfig
import graft.runner.{TaskLog, TaskRunner}
import java.nio.file.{Files, Paths}

/** End-to-end csv-csv task runs (EP1 shape): JSON task file → runner →
  * single-file CSV output with the reference's truncate/append/skip
  * semantics.
  */
class CsvTaskSpec extends SparkSpec {

  private def writeFile(path: String, content: String): Unit = {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(path), content)
  }

  private def read(path: String): String = Files.readString(Paths.get(path))

  private def setup(): String = {
    val wd = tmpDir("graft_csvtask_")
    Seq("input", "output", "log").foreach(d => Files.createDirectories(Paths.get(s"$wd/$d")))
    writeFile(s"$wd/input/people.csv",
      "name;bal;seg\nalice;10;m1\nbob;2000;m2\ncarol;1500;m3\n")
    wd
  }

  private def runTasks(wd: String, tasksJson: String): Unit = {
    val taskFile = s"$wd/task.json"
    writeFile(taskFile, tasksJson)
    TaskRunner.runFile(taskFile, spark, wd, TaskLog.Silent)
  }

  test("csv-csv with transforms, truncate mode: header + transformed rows") {
    val wd = setup()
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "t1",
        |  "source": {"file": "people.csv"},
        |  "transform": {
        |    "convert": [["name", "upper"]],
        |    "filter": "{bal} not in ('10')",
        |    "remove": ["seg"]
        |  },
        |  "target": {"file": "out.csv", "truncate": true}
        |}]}""".stripMargin)
    val out = read(s"$wd/output/out.csv")
    assert(out == "name;bal\nBOB;2000\nCAROL;1500\n")
  }

  test("a csv-csv task with the full transform block runs one Spark job: the write") {
    val wd = setup()
    writeFile(s"$wd/input/items.csv",
      "id;flag;price;disc;ship;tax\n1;A;10.5;0.05;AIR;0.1\n2;R;3.0;0.01;;0.2\n3;N;7.25;0.04;MAIL;0.0\n")
    val jobs = jobsOf {
      runTasks(wd,
        """{"tasks": [{
          |  "type": "csv-csv", "name": "jobs",
          |  "source": {"file": "items.csv"},
          |  "transform": {
          |    "module": "empty_as_null",
          |    "convert": [["flag", "lower"], ["price", "float"], ["disc", "float"]],
          |    "filter": "{disc} >= 0.02 and {ship} is not None",
          |    "remove": ["tax"],
          |    "rename": [["price", "extended_price"]]
          |  },
          |  "target": {"file": "items_out.csv", "truncate": true}
          |}]}""".stripMargin)
    }
    // the header and the first data row are read on the driver: no
    // inference job, no isEmpty probe
    assert(jobs == 1, s"expected only the write, saw $jobs jobs")
    assert(read(s"$wd/output/items_out.csv") ==
      "id;flag;extended_price;disc;ship\n1;a;10.5;0.05;AIR\n3;n;7.25;0.04;MAIL\n")
  }

  test("an empty single-file CSV source is skipped with no Spark job and no per-task log") {
    val wd = setup()
    writeFile(s"$wd/input/blank_rows.csv", "a;b\n\n \t\n")
    writeFile(s"$wd/output/kept.csv", "a;b\nold;1\n")
    writeFile(s"$wd/task.json",
      """{"tasks": [{
        |  "type": "csv-csv", "name": "blank",
        |  "source": {"file": "blank_rows.csv"},
        |  "target": {"file": "kept.csv"}
        |}]}""".stripMargin)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobs = jobsOf(TaskRunner.runFile(s"$wd/task.json", spark, wd, lines += _))
    assert(jobs == 0, s"expected no Spark job, saw $jobs")
    assert(lines.contains("Task skipped. No rows on source"), lines)
    assert(read(s"$wd/output/kept.csv") == "a;b\nold;1\n")
    assert(Files.list(Paths.get(s"$wd/log")).count() == 0)
  }

  test("typed schema opt-in: declared types flow through filter; default stays all-string") {
    val wd = setup()
    // all-string default: '{bal} < 500' compares lexicographically, so
    // "2000" < "500" ('2' < '5') keeps everyone — the petl-parity baseline
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "strings",
        |  "source": {"file": "people.csv"},
        |  "transform": {"filter": "{bal} < '500'"},
        |  "target": {"file": "str.csv", "truncate": true, "delimiter": ","}
        |}]}""".stripMargin)
    val strOut = read(s"$wd/output/str.csv")
    assert(strOut.linesIterator.size == 4,
      s"lexicographic compare keeps all three rows, got:\n$strOut")
    // typed opt-in: bal is int, the same comparison is numeric
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "typed",
        |  "source": {"file": "people.csv",
        |             "schema": {"name": "string", "bal": "int", "seg": "string"}},
        |  "transform": {"filter": "{bal} < 500", "convert": [["name", "upper"]]},
        |  "target": {"file": "typed.csv", "truncate": true, "delimiter": ","}
        |}]}""".stripMargin)
    val out = read(s"$wd/output/typed.csv")
    assert(out == "name,bal,seg\nALICE,10,m1\n",
      s"numeric filter + convert over typed columns, got:\n$out")
  }

  test("typed schema: Sources.csv parses DDL types; malformed cells null out") {
    val wd = setup()
    writeFile(s"$wd/input/typed.csv", "id;amt;day\n1;2.5;2024-01-31\nx;oops;not-a-date\n")
    val node = TaskConfig.Node(org.json4s.jackson.JsonMethods.parse(
      """{"file": "typed.csv",
        |  "schema": {"id": "bigint", "amt": "double", "day": "date"}}""".stripMargin))
    val df = graft.sources.Sources.csv(spark, s"$wd/input/typed.csv", node)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("amt", "double"), ("day", "date")))
    val rows = df.collect()
    assert(rows.length == 2)
    val bad = rows.find(_.isNullAt(0)).get
    assert(bad.isNullAt(1) && bad.isNullAt(2),
      "malformed cells must become null, not fail the read")
    val good = rows.find(!_.isNullAt(0)).get
    assert(good.getLong(0) == 1L && good.getDouble(1) == 2.5)
  }

  test("append mode adds data rows only, no header") {
    val wd = setup()
    val task =
      """{"tasks": [{
        |  "type": "csv-csv", "name": "t1",
        |  "source": {"file": "people.csv"},
        |  "target": {"file": "out.csv", "delimiter": ","}
        |}]}""".stripMargin
    runTasks(wd, task)
    runTasks(wd, task)
    val out = read(s"$wd/output/out.csv")
    // two appends, no header line at all (petl appendcsv semantics)
    assert(!out.startsWith("name"))
    assert(out.linesIterator.size == 6)
  }

  test("empty source skips the task entirely — no output file") {
    val wd = setup()
    writeFile(s"$wd/input/empty.csv", "a;b\n")
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "t1",
        |  "source": {"file": "empty.csv"},
        |  "target": {"file": "nope.csv", "truncate": true}
        |}]}""".stripMargin)
    assert(!Files.exists(Paths.get(s"$wd/output/nope.csv")))
  }

  test("disabled task runs nop") {
    val wd = setup()
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "t1", "disabled": true,
        |  "source": {"file": "people.csv"},
        |  "target": {"file": "out.csv", "truncate": true}
        |}]}""".stripMargin)
    assert(!Files.exists(Paths.get(s"$wd/output/out.csv")))
  }

  test("all-string parity: numeric-looking cells stay strings") {
    val wd = setup()
    val df = graft.sources.Sources.csv(spark, s"$wd/input/people.csv",
      TaskConfig.Node(org.json4s.JObject()))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("progress meter ticks every 10k rows into the per-task log (K5)") {
    val wd = setup()
    val rows = (1 to 25000).map(i => s"n$i;$i;m").mkString("\n")
    writeFile(s"$wd/input/big.csv", s"name;bal;seg\n$rows\n")
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "big",
        |  "source": {"file": "big.csv"},
        |  "target": {"file": "big_out.csv", "truncate": true}
        |}]}""".stripMargin)
    val logFile = Files.list(Paths.get(s"$wd/log")).toArray.map(_.toString)
      .find(_.contains("csv-csv_big_")).getOrElse(fail("no per-task log file"))
    val log = read(logFile)
    // 25k rows -> ticks at 10k and 20k, then the final total
    assert(log.contains("10000 rows in"), s"missing 10k tick:\n$log")
    assert(log.contains("20000 rows in"), s"missing 20k tick:\n$log")
    assert(log.contains("25000 rows written in"), s"missing final total:\n$log")
  }

  test("distributed sink mode writes a directory") {
    val wd = setup()
    runTasks(wd,
      """{"tasks": [{
        |  "type": "csv-csv", "name": "t1",
        |  "source": {"file": "people.csv"},
        |  "target": {"file": "outdir", "truncate": true, "single_file": false}
        |}]}""".stripMargin)
    assert(Files.isDirectory(Paths.get(s"$wd/output/outdir")))
  }

  test("a failed single-file write removes its graft_csv_ temp dir") {
    val wd = setup()
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def csvTempDirs(): Int =
      tmpRoot.listFiles().count(_.getName.startsWith("graft_csv_"))
    val before = csvTempDirs()
    // the error depends on the row, so it fires inside the write job
    val failing = spark.range(3)
      .selectExpr("CAST(raise_error(concat('boom ', id)) AS STRING) AS x")
    assertThrows[Exception](graft.sinks.CsvSink.write(failing,
      s"$wd/output/failed.csv", TaskConfig.Node(org.json4s.JObject()),
      truncate = true))
    assert(csvTempDirs() == before, "the failed write leaked its temp dir")
    assert(!Files.exists(Paths.get(s"$wd/output/failed.csv")))
  }
}
