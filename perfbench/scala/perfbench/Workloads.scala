package perfbench

import graft.config.TaskConfig
import graft.config.TaskConfig.Node
import graft.connections.Connections
import graft.runner.{ProgressMeter, TaskLog, TaskRunner}
import graft.sinks.CsvSink
import graft.sources.Sources
import graft.tasks.{TaskContext, Tasks}
import graft.transform.Transforms
import graft.watch.{Scheduler, Watcher}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One workload: a unit of work measured on the program's own path, the
  * same unit assembled from public layer calls inside spans (the traced
  * run), and the outputs the correctness check reads.
  */
trait Workload {
  /** Untimed preparation: directories, tables, task files. */
  def prepare(): Unit
  /** Untimed preparation of unit `k`, just before it runs. */
  def stage(k: Int): Unit = ()
  /** One unit on the program's path; returns the latency of each of its
    * operations (seconds) and how many of them failed.
    */
  def unit(k: Int): (Seq[Double], Int)
  /** The same unit from public layer calls, every call in a span. */
  def tracedUnit(k: Int, tr: Trace): Unit
  /** Reference timings taken outside the units (trace mode only). */
  def probes(): Map[String, Double]
  /** Input rows one unit reads. */
  def inputRows: Long
  /** Write what the correctness check compares against the oracle. */
  def dumpOutputs(dir: String): Unit
  /** True when the outputs do not depend on how many units ran, so they
    * can be dumped right after the cold unit, where the dump's pass
    * doubles as a warm-up unit.
    */
  def outputsFixed: Boolean = false
}

/** A TaskLog that keeps the messages with their arrival times: the
  * runner's and the watcher's own log lines are how the benchmark sees
  * task boundaries and processing errors without changing the program.
  */
final class CapturingLog extends TaskLog {
  val lines = mutable.ArrayBuffer.empty[(Long, String)]
  def write(msg: String): Unit = lines += ((System.nanoTime(), msg))
  def errors: Int = lines.count(_._2.startsWith("Error processing"))
  /** Wall seconds of each task item, from the runner's start/finish lines. */
  def taskSeconds: Seq[Double] = {
    val open = mutable.Map.empty[String, Long]
    lines.toSeq.flatMap { case (t, m) =>
      if (m.startsWith("Executing task item: ")) {
        open(m.stripPrefix("Executing task item: ")) = t; None
      } else if (m.startsWith("Task item finished: ")) {
        val name = m.stripPrefix("Task item finished: ").takeWhile(_ != ',')
        open.remove(name).map(s => (t - s) / 1e9)
      } else None
    }
  }
}

/** Task-file execution assembled from the layers' public functions, in
  * the order `TaskRunner.run` and `Tasks.etl` make the same calls, each
  * call inside a span named after its layer.
  */
final class Mirror(spark: SparkSession, workDir: String, tr: Trace) {
  val bytesOut = mutable.ArrayBuffer.empty[Long]
  /** Each JDBC write's meter (rows known once the listener bus drains)
    * and seconds.
    */
  val jdbcWrites = mutable.ArrayBuffer.empty[(ProgressMeter, Double)]

  def runFile(file: TaskConfig.TaskFile, log: TaskLog): Unit =
    tr.span("runner.run") {
      val conns = tr.span("connections.init")(new Connections(file, spark))
      val ctx = TaskContext(spark, conns, workDir)
      file.tasks.foreach { item =>
        val start = System.nanoTime()
        val name = item.str("name", "unnamed")
        log.write(s"Executing task item: $name")
        val tpe = item.str("type")
        tr.span(s"tasks.${tpe.replace('-', '_')}")(task(ctx, tpe, item, log))
        log.write(f"Task item finished: $name, time: ${(System.nanoTime() - start) / 1e9}%.2fs")
      }
    }

  private def task(ctx: TaskContext, tpe: String, item: Node, log: TaskLog): Unit =
    tpe match {
      case "csv-csv" => etl(ctx, item, log, tpe)(csvSource(ctx, item))(csvTarget(ctx, item))
      case "csv-db"  => etl(ctx, item, log, tpe)(csvSource(ctx, item))(dbTarget(ctx, item))
      case "db-csv"  => etl(ctx, item, log, tpe)(sqlSource(ctx, item))(csvTarget(ctx, item))
      case "sql-exec" =>
        val conn = ctx.connections.get(item("target").str("connection"))
        val sql = Sources.parseSql(item("source"))
        tr.span("connections.exec_sql")(ctx.connections.execSql(conn, sql))
      case other => Tasks.get(other).run(ctx, item, log)
    }

  private def etl(ctx: TaskContext, item: Node, log: TaskLog, tpe: String)
                 (source: => DataFrame)
                 (sink: (DataFrame, TaskLog, ProgressMeter) => Unit): Unit = {
    val df = source
    if (tr.span("tasks.empty_probe")(df.isEmpty)) log.write("Task skipped. No rows on source")
    else {
      val out = tr.span("transform.apply")(Transforms(df, item, log, Some(workDir)))
      val taskLog = tr.span("runner.task_log")(
        TaskLog.forTask(ctx.logDir, tpe, item.str("name", "task")))
      val meter = new ProgressMeter(taskLog)
      try tr.span("runner.metered")(meter.metered(spark)(sink(out, taskLog, meter)))
      finally taskLog.close()
    }
  }

  private def csvSource(ctx: TaskContext, item: Node): DataFrame = {
    val src = item("source")
    val path = s"${ctx.dir(src.str("folder", "input"))}/${src.str("file")}"
    tr.span("sources.csv")(Sources.csv(spark, path, src))
  }

  private def sqlSource(ctx: TaskContext, item: Node): DataFrame = {
    val src = item("source")
    val conn = ctx.connections.get(src.str("connection"))
    tr.span("connections.read_sql")(ctx.connections.readSql(conn, Sources.parseSql(src)))
  }

  private def csvTarget(ctx: TaskContext, item: Node)
                       (df: DataFrame, lg: TaskLog, meter: ProgressMeter): Unit = {
    val tgt = item("target")
    val out = s"${ctx.dir(tgt.str("folder", "output"))}/${tgt.str("file")}"
    val single = tgt.bool("single_file", default = true)
    val before = if (single && new File(out).isFile) new File(out).length else 0L
    tr.span(if (single) "sinks.csv_single" else "sinks.csv_distributed")(
      CsvSink.write(df, out, tgt, tgt.bool("truncate")))
    lg.write(s"wrote $out (truncate=${tgt.bool("truncate")})")
    if (single) bytesOut += new File(out).length - (if (tgt.bool("truncate")) 0L else before)
  }

  private def dbTarget(ctx: TaskContext, item: Node)
                      (df: DataFrame, lg: TaskLog, meter: ProgressMeter): Unit = {
    val tgt = item("target")
    val conn = ctx.connections.get(tgt.str("connection"))
    val counted = if (ctx.connections.isInternal(conn)) df else meter.wrap(df)
    jdbcWrites += ((meter, Probes.time(tr.span("connections.jdbc_write")(
      ctx.connections.writeTable(conn, counted, tgt.str("table"), tgt.strOpt("schema"),
        tgt.bool("truncate"))))))
    lg.write(s"wrote table ${tgt.str("table")}")
  }
}

object Etl {
  /** The transform block of the lineitem tasks: a shipped module, a
    * convert of each kind, a filter, a remove and a rename.
    */
  val lineitemTransform: String =
    """{"module": "empty_as_null",
      | "convert": [["l_returnflag", "lower"], ["l_linestatus", "lower"],
      |             ["l_extendedprice", "float"], ["l_discount", "float"],
      |             ["l_quantity", "float"]],
      | "filter": "{l_discount} >= 0.02 and {l_shipmode} is not None",
      | "remove": ["l_tax", "l_suppkey"],
      | "rename": [["l_extendedprice", "extended_price"],
      |            ["l_returnflag", "return_flag"]]}""".stripMargin

  def derby(db: String): String =
    s"""{"name": "derby", "driver": "Derby", "database": "$db"}"""

  def taskFile(db: String, tasks: Seq[String]): String =
    s"""{"connections": [${derby(db)}],
       | "tasks": [${tasks.mkString(",\n")}]}""".stripMargin

  def jdbc[T](db: String)(f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try f(c) finally c.close()
  }

  /** Table contents as a `;`-separated file with a header row. */
  def dumpTable(db: String, sql: String, path: String): Unit = jdbc(db) { c =>
    val rs = c.createStatement().executeQuery(sql)
    val md = rs.getMetaData
    val cols = (1 to md.getColumnCount).map(md.getColumnName)
    val sb = new StringBuilder(cols.mkString(";")).append('\n')
    while (rs.next())
      sb.append(cols.indices.map(i => Option(rs.getString(i + 1)).getOrElse("")).mkString(";")).append('\n')
    Files.writeString(Paths.get(path), sb.toString)
  }

  def fileCount(dir: String): Int =
    Option(new File(dir).listFiles()).map(_.length).getOrElse(0)

  def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }
}

/** `etl_bulk`: one task file through `TaskRunner.runFile` — lineitem
  * csv-csv with the full transform block, orders DDL + csv-db into
  * Derby, then a filter-plus-aggregate pushed to Derby out to CSV.
  */
final class EtlBulk(spark: SparkSession, data: String, work: String,
                    rows: Map[String, Long]) extends Workload {
  private val db = s"$work/derby/bulk"
  private var last = -1
  val log = new CapturingLog

  private def table(k: Int) = s"ORDERS_U$k"

  def file(k: Int): String = {
    val path = s"$work/tasks/unit_$k.json"
    Etl.write(path, Etl.taskFile(db, Seq(
      s"""{"type": "csv-csv", "name": "lineitem", "source": {"file": "lineitem.csv"},
         | "transform": ${Etl.lineitemTransform},
         | "target": {"file": "lineitem_out.csv", "truncate": true}}""".stripMargin,
      s"""{"type": "sql-exec", "name": "ddl", "target": {"connection": "derby"},
         | "source": {"command": "CREATE TABLE ${table(k)} (O_ORDERKEY BIGINT, O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE VARCHAR(32), O_ORDERPRIORITY VARCHAR(20))"}}""".stripMargin,
      s"""{"type": "csv-db", "name": "orders",
         | "source": {"file": "orders.csv", "schema": {"o_orderkey": "bigint",
         |   "o_custkey": "bigint", "o_orderstatus": "string", "o_totalprice": "double",
         |   "o_orderdate": "string", "o_orderpriority": "string"}},
         | "target": {"connection": "derby", "table": "${table(k)}", "truncate": true}}""".stripMargin,
      s"""{"type": "db-csv", "name": "orders_agg", "source": {"connection": "derby",
         | "command": "SELECT O_ORDERSTATUS, O_ORDERPRIORITY, COUNT(*) AS N, SUM(O_CUSTKEY) AS CUSTSUM, MIN(O_TOTALPRICE) AS MINPRICE, MAX(O_TOTALPRICE) AS MAXPRICE FROM ${table(k)} WHERE O_TOTALPRICE > 250000 GROUP BY O_ORDERSTATUS, O_ORDERPRIORITY"},
         | "target": {"file": "orders_agg.csv", "truncate": true}}""".stripMargin)))
    path
  }

  def prepare(): Unit = {
    Files.createDirectories(Paths.get(s"$work/input"))
    Seq("lineitem.csv", "orders.csv").foreach { f =>
      Files.copy(Paths.get(s"$data/input/$f"), Paths.get(s"$work/input/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.createDirectories(Paths.get(s"$work/derby"))
  }

  /** Write unit `k`'s task file; drop the previous unit's table, keeping
    * the latest one for the check.
    */
  override def stage(k: Int): Unit = {
    file(k)
    if (last >= 0) Etl.jdbc(db)(_.createStatement().execute(s"DROP TABLE ${table(last)}"))
    last = k
  }

  def unit(k: Int): (Seq[Double], Int) = {
    log.lines.clear()
    try {
      TaskRunner.runFile(s"$work/tasks/unit_$k.json", spark, work, log)
      (log.taskSeconds, 0)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] unit $k failed: $e")
      val started = log.lines.filter(_._2.startsWith("Executing task item")).last._1
      (log.taskSeconds :+ (System.nanoTime() - started) / 1e9, 1)
    }
  }

  def tracedUnit(k: Int, tr: Trace): Unit = {
    val mirror = new Mirror(spark, work, tr)
    tr.span("runner.run_file") {
      val f = tr.span("config.parse")(TaskConfig.parseFile(s"$work/tasks/unit_$k.json"))
      mirror.runFile(f, TaskLog.Silent)
    }
    Probes.record(mirror)
  }

  def probes(): Map[String, Double] = {
    val taskFile = TaskConfig.parseFile(s"$work/tasks/unit_$last.json")
    val item = taskFile.tasks.head
    val src = Sources.csv(spark, s"$work/input/lineitem.csv", item("source"))
    val out = Transforms(src, item, TaskLog.Silent, Some(work))
    val distNode = Node(item("target").j merge org.json4s.jackson.JsonMethods.parse(
      """{"single_file": false}"""))
    Map(
      "sources.csv_scan_s" -> Probes.time(src.write.format("noop").mode("overwrite").save()),
      "sinks.csv_distributed_s" -> Probes.time(
        CsvSink.write(out, s"$work/probe/lineitem_dist", distNode, truncate = true)),
      "transform.analysis_s" -> Probes.analysis(out),
      "connections.jdbc_read_s" -> Probes.jdbcRead(taskFile, s"SELECT * FROM ${table(last)}"))
  }

  def inputRows: Long = rows("lineitem") + rows("orders")

  def dumpOutputs(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Seq("lineitem_out.csv", "orders_agg.csv").foreach { f =>
      Files.copy(Paths.get(s"$work/output/$f"), Paths.get(s"$dir/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Etl.dumpTable(db, s"SELECT * FROM ${table(last)}", s"$dir/orders_db.csv")
  }
}

/** `etl_many_small`: a closed loop with one client. Each drop moves one
  * small task file into `capture/` and calls `Watcher.check()`; the next
  * drop waits for that call to return. One unit is one rotation of the
  * five task types, in an order drawn from the seed.
  */
final class EtlManySmall(spark: SparkSession, data: String, work: String,
                         seed: Long, smallRows: Long, pool: Int) extends Workload {
  private val db = s"$work/derby/small"
  private val rng = new scala.util.Random(seed)
  private val types = Seq("csv-csv-truncate", "csv-csv-append", "csv-db", "db-csv", "sql-exec")
  private var drop = 0
  val drops = mutable.ArrayBuffer.empty[(Int, String, Int)]
  val log = new CapturingLog
  private var watcher: Watcher = _
  private var known = Set.empty[String]

  private val csvDbTransform =
    """{"module": "empty_as_null", "filter": "{l_shipmode} is not None",
      | "remove": ["l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      |            "l_discount", "l_tax", "l_linestatus", "l_shipdate"]}""".stripMargin

  private def taskJson(i: Int, tpe: String, input: Int): String = {
    val src = s""""source": {"file": "small_$input.csv"}"""
    val body = tpe match {
      case "csv-csv-truncate" =>
        s"""{"type": "csv-csv", "name": "trunc_$i", $src, "transform": ${Etl.lineitemTransform},
           | "target": {"file": "trunc.csv", "truncate": true}}""".stripMargin
      case "csv-csv-append" =>
        s"""{"type": "csv-csv", "name": "append_$i", $src, "transform": ${Etl.lineitemTransform},
           | "target": {"file": "appended.csv", "truncate": false}}""".stripMargin
      case "csv-db" =>
        s"""{"type": "csv-db", "name": "load_$i", $src, "transform": $csvDbTransform,
           | "target": {"connection": "derby", "table": "SMALL"}}""".stripMargin
      case "db-csv" =>
        s"""{"type": "db-csv", "name": "export_$i", "source": {"connection": "derby",
           | "command": "SELECT L_RETURNFLAG, COUNT(*) AS N, SUM(CAST(L_ORDERKEY AS BIGINT)) AS KEYSUM FROM SMALL GROUP BY L_RETURNFLAG"},
           | "target": {"file": "db_export.csv", "truncate": true}}""".stripMargin
      case "sql-exec" =>
        s"""{"type": "sql-exec", "name": "audit_$i", "target": {"connection": "derby"},
           | "source": {"command": "INSERT INTO AUDIT VALUES ($i)"}}""".stripMargin
    }
    Etl.taskFile(db, Seq(body))
  }

  def prepare(): Unit = {
    Seq("capture", "input", "output", "log", "module", "staging")
      .foreach(d => Files.createDirectories(Paths.get(s"$work/$d")))
    (0 until pool).foreach { k =>
      Files.copy(Paths.get(s"$data/input/small_$k.csv"), Paths.get(s"$work/input/small_$k.csv"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.createDirectories(Paths.get(s"$work/derby"))
    Etl.jdbc(db) { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE SMALL (L_ORDERKEY VARCHAR(20), L_RETURNFLAG VARCHAR(1), " +
        "L_EXTENDEDPRICE VARCHAR(32), L_SHIPMODE VARCHAR(8))")
      st.execute("CREATE TABLE AUDIT (ID INT)")
    }
    watcher = new Watcher(spark, work, log, new Scheduler(spark, work, log))
  }

  /** Stage the next drop's task file; returns its staging path and the
    * name it lands under in `capture/`.
    */
  private def stage(tpe: String): (String, String) = {
    val i = drop
    drop += 1
    val input = i % pool
    drops += ((i, tpe, input))
    val name = f"drop_$i%05d.json"
    val staged = s"$work/staging/$name"
    Files.writeString(Paths.get(staged), taskJson(i, tpe, input))
    (staged, name)
  }

  private def rotation(): Seq[String] = rng.shuffle(types)

  def unit(k: Int): (Seq[Double], Int) = {
    val errorsBefore = log.errors
    val lat = rotation().map { tpe =>
      val (staged, name) = stage(tpe)
      val t0 = System.nanoTime()
      Files.move(Paths.get(staged), Paths.get(s"$work/capture/$name"), StandardCopyOption.ATOMIC_MOVE)
      watcher.check()
      (System.nanoTime() - t0) / 1e9
    }
    (lat, log.errors - errorsBefore)
  }

  /** `Watcher.check` assembled from public calls: list and diff the
    * capture folder, test and parse the task file, run it, delete it.
    */
  def tracedUnit(k: Int, tr: Trace): Unit = {
    val mirror = new Mirror(spark, work, tr)
    rotation().foreach { tpe =>
      val (staged, name) = stage(tpe)
      tr.span("watch.check") {
        Files.move(Paths.get(staged), Paths.get(s"$work/capture/$name"), StandardCopyOption.ATOMIC_MOVE)
        val current = Option(new File(s"$work/capture").listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).map(_.getName).toSet
        val added = (current -- known).toSeq.sorted
        added.foreach { n =>
          val p = s"$work/capture/$n"
          if (tr.span("config.is_task_file")(TaskConfig.isTaskFile(p))) {
            val f = tr.span("config.parse")(TaskConfig.parseFile(p))
            log.write(s"Running task file $p")
            mirror.runFile(f, log)
          }
          Files.deleteIfExists(Paths.get(p))
        }
        known = current
      }
    }
    Probes.record(mirror)
  }

  def probes(): Map[String, Double] = {
    val node = Node(org.json4s.jackson.JsonMethods.parse("{}"))
    val src = Sources.csv(spark, s"$work/input/small_0.csv", node)
    val item = TaskConfig.parse(taskJson(-1, "csv-csv-truncate", 0)).tasks.head
    val out = Transforms(src, item, TaskLog.Silent, Some(work))
    val distNode = Node(org.json4s.jackson.JsonMethods.parse(
      """{"file": "x", "truncate": true, "single_file": false}"""))
    Map(
      "sources.csv_scan_s" -> Probes.time(src.write.format("noop").mode("overwrite").save()),
      "sinks.csv_distributed_s" -> Probes.time(
        CsvSink.write(out, s"$work/probe/small_dist", distNode, truncate = true)),
      "transform.analysis_s" -> Probes.analysis(out),
      "connections.jdbc_read_s" -> Probes.jdbcRead(
        TaskConfig.parse(taskJson(-1, "sql-exec", 0)), "SELECT * FROM SMALL"))
  }

  /** Input rows of one rotation: three CSV drops read a small file each. */
  def inputRows: Long = 3 * smallRows

  def dumpOutputs(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Seq("trunc.csv", "appended.csv", "db_export.csv").foreach { f =>
      val p = Paths.get(s"$work/output/$f")
      if (Files.exists(p)) Files.copy(p, Paths.get(s"$dir/$f"), StandardCopyOption.REPLACE_EXISTING)
    }
    Etl.dumpTable(db, "SELECT * FROM SMALL", s"$dir/small_db.csv")
    Etl.dumpTable(db, "SELECT * FROM AUDIT", s"$dir/audit_db.csv")
    Files.writeString(Paths.get(s"$dir/drops.json"), drops.map { case (i, t, in) =>
      s"""{"i": $i, "type": "$t", "input": $in}"""
    }.mkString("[", ",\n", "]"))
    Files.writeString(Paths.get(s"$dir/log_errors.txt"),
      log.lines.map(_._2).filter(_.startsWith("Error processing")).mkString("\n"))
  }
}

/** `sql_relational` and `ops_expr`: passes over a fixed query list
  * through `SparkEntry.queries`, each result into the noop sink.
  */
final class SqlPasses(spark: SparkSession, data: String, names: Seq[String],
                      rows: Map[String, Long]) extends Workload {
  private val queries = graft.SparkEntry.queries

  def prepare(): Unit =
    names.foreach(n => require(queries.contains(n), s"unknown query $n"))

  def unit(k: Int): (Seq[Double], Int) = {
    var failed = 0
    val lat = names.map { n =>
      val t0 = System.nanoTime()
      try graft.BenchHarness.runNoop(queries(n)(spark, data))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: $e"); failed += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    (lat, failed)
  }

  def tracedUnit(k: Int, tr: Trace): Unit =
    names.foreach { n =>
      tr.span(s"queries.$n")(graft.BenchHarness.runNoop(queries(n)(spark, data)))
    }

  def probes(): Map[String, Double] = Map.empty

  override def outputsFixed: Boolean = true

  /** Rows of every fixture table a pass scans, a table counted once per
    * scan of it in each query's analyzed plan.
    */
  lazy val inputRows: Long = names.map { n =>
    queries(n)(spark, data).queryExecution.analyzed.collectLeaves().map { leaf =>
      leaf match {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map { p =>
                rows.getOrElse(p.getName.stripSuffix(".parquet"), 0L)
              }.sum
            case _ => 0L
          }
        case _ => 0L
      }
    }.sum
  }.sum

  def dumpOutputs(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    names.foreach { n =>
      queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      names.map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ",\n", "}"))
  }
}

/** Reference timings the traced run reports next to the spans. */
object Probes {
  val bytesOut = mutable.ArrayBuffer.empty[Long]
  val jdbcRows = mutable.ArrayBuffer.empty[(Long, Double)]

  def record(m: Mirror): Unit = {
    bytesOut += m.bytesOut.sum
    jdbcRows ++= m.jdbcWrites.map { case (meter, secs) => (meter.totalRows, secs) }
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** A full read of `sql` through the file's Derby connection. */
  def jdbcRead(file: TaskConfig.TaskFile, sql: String): Double = {
    val conns = new Connections(file, SparkSession.active)
    val df = conns.readSql(conns.get("derby"), sql)
    time(df.write.format("noop").mode("overwrite").save())
  }

  /** Analysis of the transformed plan from scratch: its unresolved plan
    * re-resolved by a fresh `QueryExecution`.
    */
  def analysis(df: DataFrame): Double = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    time(session.sessionState.executePlan(df.queryExecution.logical).assertAnalyzed())
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ", ", "]")
}
