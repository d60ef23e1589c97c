package graft.tasks

import graft.SparkSpec
import graft.runner.{TaskLog, TaskRunner}
import java.nio.file.{Files, Paths}

/** JDBC round-trips against embedded Derby (the offline stand-in for the
  * four vendor RDBMS — SURVEY.md §5 item 5): csv-db, db-csv, db-db,
  * sql-exec, with truncate/append and connection plumbing.
  */
class JdbcTaskSpec extends SparkSpec {

  private def setup(): (String, String) = {
    val wd = tmpDir("graft_jdbc_")
    Seq("input", "output", "log").foreach(d => Files.createDirectories(Paths.get(s"$wd/$d")))
    Files.writeString(Paths.get(s"$wd/input/people.csv"),
      "name;bal\nalice;10\nbob;2000\n")
    (wd, s"$wd/db")
  }

  private def connections(db: String): String =
    s""""connections": [
       |  {"name": "main", "driver": "Derby", "database": "$db"}
       |]""".stripMargin

  private def run(wd: String, json: String, log: TaskLog = TaskLog.Silent): Unit = {
    val f = s"$wd/task.json"
    Files.writeString(Paths.get(f), json)
    TaskRunner.runFile(f, spark, wd, log)
  }

  test("sql-exec DDL, csv-db load, then db-csv export round-trips") {
    val (wd, db) = setup()
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "sql-exec", "name": "ddl",
         |   "source": {"command": "CREATE TABLE people (name VARCHAR(50), bal VARCHAR(20))"},
         |   "target": {"connection": "main"}},
         |  {"type": "csv-db", "name": "load",
         |   "source": {"file": "people.csv"},
         |   "target": {"connection": "main", "table": "people"}},
         |  {"type": "db-csv", "name": "export",
         |   "source": {"connection": "main",
         |              "command": "SELECT name, bal FROM people ORDER BY name;"},
         |   "target": {"file": "out.csv", "truncate": true, "delimiter": ","}}
         |]}""".stripMargin)
    val out = Files.readString(Paths.get(s"$wd/output/out.csv"))
    // Derby (like any reference vendor driver) reports its native
    // identifier casing — header arrives uppercased.
    assert(out.toLowerCase == "name,bal\nalice,10\nbob,2000\n")
  }

  test("db-db copies between tables; truncate load empties the target first") {
    val (wd, db) = setup()
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "sql-exec", "name": "ddl1",
         |   "source": {"command": "CREATE TABLE src (v VARCHAR(10))"},
         |   "target": {"connection": "main"}},
         |  {"type": "sql-exec", "name": "ddl2",
         |   "source": {"command": "INSERT INTO src VALUES ('x'), ('y')"},
         |   "target": {"connection": "main"}},
         |  {"type": "sql-exec", "name": "ddl3",
         |   "source": {"command": "CREATE TABLE dst (v VARCHAR(10))"},
         |   "target": {"connection": "main"}},
         |  {"type": "sql-exec", "name": "seed-dst",
         |   "source": {"command": "INSERT INTO dst VALUES ('stale')"},
         |   "target": {"connection": "main"}},
         |  {"type": "db-db", "name": "copy",
         |   "source": {"connection": "main", "command": "SELECT v FROM src"},
         |   "target": {"connection": "main", "table": "dst", "truncate": true}},
         |  {"type": "db-csv", "name": "check",
         |   "source": {"connection": "main", "command": "SELECT v FROM dst ORDER BY v"},
         |   "target": {"file": "dst.csv", "truncate": true, "delimiter": ","}}
         |]}""".stripMargin)
    val out = Files.readString(Paths.get(s"$wd/output/dst.csv"))
    assert(out.toLowerCase == "v\nx\ny\n")
  }

  test("query from .sql file with param substitution") {
    val (wd, db) = setup()
    Files.writeString(Paths.get(s"$wd/input/q.sql"), "SELECT name FROM people WHERE bal = '{want}';")
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "sql-exec", "name": "ddl",
         |   "source": {"command": "CREATE TABLE people (name VARCHAR(50), bal VARCHAR(20))"},
         |   "target": {"connection": "main"}},
         |  {"type": "csv-db", "name": "load",
         |   "source": {"file": "people.csv"},
         |   "target": {"connection": "main", "table": "people"}},
         |  {"type": "db-csv", "name": "export",
         |   "source": {"connection": "main", "query": "q.sql", "params": {"want": "2000"}},
         |   "target": {"file": "q.csv", "truncate": true, "delimiter": ","}}
         |]}""".stripMargin)
    val out = Files.readString(Paths.get(s"$wd/output/q.csv"))
    assert(out.toLowerCase == "name\nbob\n")
  }

  test("JDBC sink progress meter: 10k ticks via the accumulator path (K5)") {
    val (wd, db) = setup()
    val rows = (1 to 12000).map(i => s"n$i;$i").mkString("\n")
    Files.writeString(Paths.get(s"$wd/input/big.csv"), s"name;bal\n$rows\n")
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "sql-exec", "name": "ddl",
         |   "source": {"command": "CREATE TABLE bigt (name VARCHAR(50), bal VARCHAR(20))"},
         |   "target": {"connection": "main"}},
         |  {"type": "csv-db", "name": "bigload",
         |   "source": {"file": "big.csv"},
         |   "target": {"connection": "main", "table": "bigt"}}
         |]}""".stripMargin)
    val logFile = Files.list(Paths.get(s"$wd/log")).toArray.map(_.toString)
      .find(_.contains("csv-db_bigload_")).getOrElse(fail("no per-task log file"))
    val log = Files.readString(Paths.get(logFile))
    // JDBC reports no output metrics; the wrap-accumulator must meter it.
    assert(log.contains("10000 rows in"), s"missing 10k tick:\n$log")
    assert(log.contains("12000 rows written in"), s"missing final total:\n$log")
  }

  test("internal Spark connection: db-csv over a registered view") {
    val (wd, _) = setup()
    import spark.implicits._
    Seq(("a", 1), ("b", 2)).toDF("k", "v").createOrReplaceTempView("kv")
    run(wd,
      s"""{"connections": [{"name": "cat", "driver": "Spark"}], "tasks": [
         |  {"type": "db-csv", "name": "export",
         |   "source": {"connection": "cat",
         |              "command": "SELECT k, v FROM kv ORDER BY k"},
         |   "target": {"file": "kv.csv", "truncate": true, "delimiter": ","}}
         |]}""".stripMargin)
    val out = Files.readString(Paths.get(s"$wd/output/kv.csv"))
    assert(out == "k,v\na,1\nb,2\n")
  }

  private def logFiles(wd: String, prefix: String): Seq[String] =
    Files.list(Paths.get(s"$wd/log")).toArray.map(_.toString).toSeq
      .filter(_.split('/').last.startsWith(prefix))

  test("db-csv over a non-empty table whose filter drops every row still writes: header on truncate, nothing appended") {
    val (wd, db) = setup()
    Files.writeString(Paths.get(s"$wd/output/kept.csv"), "NAME,BAL\nold,1\n")
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "sql-exec", "name": "ddl",
         |   "source": {"command": "CREATE TABLE people (name VARCHAR(50), bal VARCHAR(20))"},
         |   "target": {"connection": "main"}},
         |  {"type": "csv-db", "name": "load",
         |   "source": {"file": "people.csv"},
         |   "target": {"connection": "main", "table": "people"}},
         |  {"type": "db-csv", "name": "fresh",
         |   "source": {"connection": "main", "command": "SELECT name, bal FROM people"},
         |   "transform": {"filter": "{BAL} == 'none'"},
         |   "target": {"file": "fresh.csv", "truncate": true, "delimiter": ","}},
         |  {"type": "db-csv", "name": "kept",
         |   "source": {"connection": "main", "command": "SELECT name, bal FROM people"},
         |   "transform": {"filter": "{BAL} == 'none'"},
         |   "target": {"file": "kept.csv", "delimiter": ","}}
         |]}""".stripMargin)
    assert(Files.readString(Paths.get(s"$wd/output/fresh.csv")) == "NAME,BAL\n")
    assert(Files.readString(Paths.get(s"$wd/output/kept.csv")) == "NAME,BAL\nold,1\n")
    Seq("fresh", "kept").foreach { name =>
      val logs = logFiles(wd, s"db-csv_${name}_")
      assert(logs.size == 1, s"one per-task log for $name, got $logs")
      val log = Files.readString(Paths.get(logs.head))
      assert(log.contains("wrote ") && log.contains("0 rows written in"), log)
    }
  }

  /** A Derby table `people` holding `rows`. */
  private def peopleTable(wd: String, db: String, rows: String*): Unit =
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "sql-exec", "name": "ddl",
         |   "source": {"command": "CREATE TABLE people (name VARCHAR(50), bal VARCHAR(20))"},
         |   "target": {"connection": "main"}}${rows.map(r => s""",
         |  {"type": "sql-exec", "name": "row",
         |   "source": {"command": "INSERT INTO people VALUES ($r)"},
         |   "target": {"connection": "main"}}""").mkString}
         |]}""".stripMargin)

  test("db-csv from an empty table leaves the target untouched, writes no per-task log and logs the skip") {
    val (wd, db) = setup()
    peopleTable(wd, db)
    Files.writeString(Paths.get(s"$wd/output/kept.csv"), "NAME,BAL\nold,1\n")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "db-csv", "name": "fresh",
         |   "source": {"connection": "main", "command": "SELECT name, bal FROM people"},
         |   "target": {"file": "fresh.csv", "truncate": true, "delimiter": ","}},
         |  {"type": "db-csv", "name": "kept",
         |   "source": {"connection": "main", "command": "SELECT name, bal FROM people"},
         |   "target": {"file": "kept.csv", "delimiter": ","}}
         |]}""".stripMargin, lines += _)
    assert(!Files.exists(Paths.get(s"$wd/output/fresh.csv")))
    assert(Files.readString(Paths.get(s"$wd/output/kept.csv")) == "NAME,BAL\nold,1\n")
    assert(logFiles(wd, "db-csv_").isEmpty, logFiles(wd, "db-csv_"))
    assert(lines.count(_ == "Task skipped. No rows on source") == 2, lines)
  }

  test("a db-csv task into a single-file CSV target runs one Spark job: the write") {
    val (wd, db) = setup()
    peopleTable(wd, db, "'alice', '10'", "'bob', '2000'")
    val jobs = jobsOf(run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "db-csv", "name": "export",
         |   "source": {"connection": "main",
         |              "command": "SELECT bal, COUNT(*) AS n FROM people GROUP BY bal"},
         |   "target": {"file": "out.csv", "truncate": true, "delimiter": ","}}
         |]}""".stripMargin))
    assert(jobs == 1, s"expected only the write, saw $jobs jobs")
    assert(Files.readString(Paths.get(s"$wd/output/out.csv")).toLowerCase.linesIterator.toSeq.sorted ==
      Seq("10,1", "2000,1", "bal,n"))
  }


  test("db-csv whose constant-false filter prunes the row count away still writes the header") {
    val (wd, db) = setup()
    peopleTable(wd, db, "'alice', '10'")
    run(wd,
      s"""{${connections(db)}, "tasks": [
         |  {"type": "db-csv", "name": "export",
         |   "source": {"connection": "main", "command": "SELECT name, bal FROM people"},
         |   "transform": {"filter": "1 == 2"},
         |   "target": {"file": "out.csv", "truncate": true, "delimiter": ","}}
         |]}""".stripMargin)
    assert(Files.readString(Paths.get(s"$wd/output/out.csv")) == "NAME,BAL\n")
  }
}
