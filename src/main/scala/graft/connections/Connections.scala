package graft.connections

import graft.config.TaskConfig.{Node, TaskFile}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Connection registry: named connections with per-vendor JDBC URL builders,
  * `$env.` indirection, environment injection, and `initializing` SQL —
  * mirroring the reference driver layer
  * (/root/reference/dasladen/taskdriver.py:73-212; env injection
  * task.py:62-69) on a single JDBC path.
  *
  * Two families:
  *  - driver "Spark" — the internal catalog. The reference pushes arbitrary
  *    SQL to its backing RDBMS (task.py:180,256,534); ours IS Spark SQL, so
  *    source SQL runs over registered tables/views and sinks are catalog
  *    tables. This is the 100 TB path: reads stay distributed, Catalyst
  *    optimizes the pushed statement.
  *  - vendor JDBC (MySQL/Oracle/MSSQL/PostgreSQL + Derby for offline
  *    tests) — external copies, batched via the JDBC writer.
  */
class Connections(file: TaskFile, spark: SparkSession) {

  // a task's source SQL on the internal connection must see the extension
  // functions (graft_dot, graft_simhash, ...) like any built-in
  graft.functions.VectorFunctions.registerSql(spark)

  def get(name: String): Node = {
    val node = file.connection(name)
    // environment injection before first use (reference task.py:62-69);
    // JVMs cannot set real env vars, so these land in system properties,
    // which $env. resolution also consults.
    node.arr("environment").foreach { e =>
      System.setProperty(e.str("key"), e.str("value"))
    }
    node
  }

  def isInternal(node: Node): Boolean =
    node.str("driver", "").equalsIgnoreCase("spark")

  /** Per-vendor JDBC URL (explicit "url" key wins). Port defaults follow
    * the reference (taskdriver.py:82,116,154,198). Session-scoped vendor
    * intent rides the URL, not `sessionInitStatement`, because Spark
    * applies the latter only on the READ path while every executor's
    * WRITER connection parses the URL:
    *
    *  - MySQL: `sessionVariables=sql_mode=ANSI_QUOTES` — the quoting
    *    mode the reference sets on every fresh connection for petl
    *    compatibility (taskdriver.py:164); plus the reference's
    *    `characterEncoding` and `local_infile` intents.
    *  - PostgreSQL: `reWriteBatchedInserts=true` — the pgjdbc analog of
    *    the reference's psycopg2 `execute_batch` cursor proxy
    *    (taskdriver.py:178-186: multi-row batches instead of row-at-a-
    *    time inserts). (The reference's `charset` intent has no pgjdbc
    *    carrier — the driver is UTF-8-only on the wire and warns-and-
    *    ignores unknown URL params, so a `client_encoding` param would
    *    be a silent no-op; `charset` is intentionally ignored here,
    *    like MSSQL's.)
    *  - MSSQL: the reference's trusted-connection form when `user` is
    *    empty. (Its ODBC `CHARSET=` knob has no sqlserver-jdbc
    *    equivalent — the JDBC wire protocol is UTF-16 — so `charset` is
    *    intentionally ignored here.)
    *  - Oracle: service-name thin URL; the string-type intent is a
    *    driver PROPERTY, see [[vendorProps]].
    */
  def jdbcUrl(node: Node): String = node.strOpt("url").getOrElse {
    val host = node.str("host", "localhost")
    node.str("driver") match {
      case "MySQL" =>
        val port = node.str("port", "3306")
        val cs = node.str("charset", "utf8")
        s"jdbc:mysql://$host:$port/${node.str("database")}" +
          s"?characterEncoding=$cs&allowLoadLocalInfile=true" +
          "&sessionVariables=sql_mode=ANSI_QUOTES"
      case "PostgreSQL" =>
        val port = node.str("port", "5432")
        s"jdbc:postgresql://$host:$port/${node.str("database")}" +
          "?reWriteBatchedInserts=true"
      case "Oracle" =>
        val port = node.str("port", "1521")
        s"jdbc:oracle:thin:@//$host:$port/${node.str("service")}"
      case "MSSQL" =>
        val port = node.str("port", "1433")
        val trusted = if (node.str("user", "").isEmpty) ";integratedSecurity=true" else ""
        s"jdbc:sqlserver://$host:$port;databaseName=${node.str("database")}$trusted"
      case "Derby" => // offline-test stand-in for the vendor RDBMS
        s"jdbc:derby:${node.str("database")};create=true"
      case other =>
        throw new IllegalArgumentException(s"unsupported connection driver: $other")
    }
  }

  /** Vendor driver PROPERTIES applied to every connection (reader,
    * writer, and raw exec). Oracle's `defaultNChar` is the Spark-side
    * analog of the reference's output-type handler
    * (taskdriver.py:94-99: force STRING/FIXED_CHAR fetches through the
    * unicode path) — national-character semantics on both directions
    * instead of a fetch-time cursor hook.
    *
    * NOT verifiable offline (no vendor reachable; Derby/DuckDB stand-ins
    * don't read these). Manual smoke plan, first time a real vendor is
    * dialed: run the JdbcTaskSpec round-trip shapes (`db-csv` +
    * `csv-db`, truncate and append) against the vendor, with (1) a
    * non-ASCII string column — MySQL needs ANSI_QUOTES + utf8, Oracle
    * exercises defaultNChar; (2) a >batchsize row count — PostgreSQL
    * should show rewritten multi-row inserts in `pg_stat_statements`;
    * (3) MSSQL once with `user` set and once trusted.
    */
  private[connections] def vendorProps(node: Node): Map[String, String] =
    node.str("driver", "") match {
      case "Oracle" => Map("oracle.jdbc.defaultNChar" -> "true")
      case _        => Map.empty
    }

  /** What every connection carries — reader, writer and raw exec:
    * `user` and `password` when set, plus [[vendorProps]].
    */
  private def connectionProps(node: Node): Map[String, String] =
    node.strOpt("user").filter(_.nonEmpty).map("user" -> _).toMap ++
      node.strOpt("pass").filter(_.nonEmpty).map("password" -> _) ++
      vendorProps(node)

  /** The read path's options: [[connectionProps]], batching and the
    * `initializing` statements.
    */
  private def readOptions(node: Node): Map[String, String] = {
    val init = initSql(node)
    connectionProps(node) + ("batchsize" -> node.str("batchsize", "10000")) ++
      Option.when(init.nonEmpty)("sessionInitStatement" -> init.mkString("; "))
  }

  private[connections] def jdbcProps(node: Node): java.util.Properties =
    toProperties(readOptions(node))

  private def toProperties(m: Map[String, String]): java.util.Properties = {
    val p = new java.util.Properties()
    m.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** `initializing` statements; MySQL always gets ANSI_QUOTES first, as the
    * reference does for petl compatibility (taskdriver.py:164). (The URL
    * also carries it via `sessionVariables` — this copy serves the raw
    * [[execSql]] path and custom `url` overrides.)
    */
  private def initSql(node: Node): Seq[String] = {
    val base =
      if (node.str("driver", "") == "MySQL") Seq("SET SQL_MODE=ANSI_QUOTES") else Seq.empty
    base ++ node.strArr("initializing")
  }

  /** Source SQL scan. Internal → Catalyst executes it (full optimization);
    * external → whole statement pushed to the RDBMS via the JDBC `query`
    * option, matching the reference's full-pushdown semantics.
    */
  def readSql(node: Node, sql: String): DataFrame =
    if (isInternal(node)) spark.sql(sql)
    else spark.read
      .format("jdbc")
      .option("url", jdbcUrl(node))
      .option("query", sql)
      .options(readOptions(node))
      .load()

  /** Table write with the reference's truncate-vs-append semantics
    * (petl todb truncates then bulk-inserts; appenddb inserts —
    * task.py:243-245 et al.).
    */
  def writeTable(node: Node, df: DataFrame, table: String,
                 schema: Option[String], truncate: Boolean): Unit = {
    val qualified = schema.map(s => s"$s.$table").getOrElse(table)
    if (isInternal(node)) {
      if (truncate)
        df.write.mode(SaveMode.Overwrite).saveAsTable(qualified)
      else {
        if (spark.catalog.tableExists(qualified))
          df.write.mode(SaveMode.Append).insertInto(qualified)
        else
          df.write.mode(SaveMode.Append).saveAsTable(qualified)
      }
    } else {
      val writer = df.write
        .format("jdbc")
        .option("url", jdbcUrl(node))
        .option("dbtable", qualified)
        .option("batchsize", node.str("batchsize", "10000"))
        .options(connectionProps(node))
      if (truncate)
        // truncate=true keeps the target table's DDL and empties it — the
        // exact petl todb contract (truncate, then insert).
        writer.option("truncate", "true").mode(SaveMode.Overwrite).save()
      else
        writer.mode(SaveMode.Append).save()
    }
  }

  /** DDL/DML execution with commit — the sql-exec task
    * (task.py:527-536). Internal → spark.sql; external → raw JDBC.
    */
  def execSql(node: Node, sql: String): Unit =
    if (isInternal(node)) {
      // Commands (DDL/DML) run eagerly inside sql(); anything with a
      // result (a user's SELECT through sql-exec) is executed
      // distributedly and discarded via the noop sink — never collected
      // to the driver, which at scale would OOM it.
      spark.sql(sql).write.format("noop").mode("overwrite").save()
    }
    else {
      val conn = java.sql.DriverManager.getConnection(jdbcUrl(node),
        toProperties(connectionProps(node)))
      try {
        val st = conn.createStatement()
        initSql(node).foreach(st.execute)
        st.execute(sql)
        if (!conn.getAutoCommit) conn.commit()
      } finally conn.close()
    }
}
