package graft.sources

import graft.config.TaskConfig.Node
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CsvHeader
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** File sources with the reference's semantics.
  *
  * CSV (reference task.py:221,297 — petl fromcsv): header row = field
  * names, every value a string, delimiter default `;`, encoding default
  * utf-8. We read with inferSchema=false so all columns are StringType —
  * petl parity ('' vs null, string comparisons in filters behave alike).
  * For a single file the header is read on the driver
  * ([[org.apache.spark.sql.graft.CsvHeader]]) and handed to the reader as
  * its schema, so no Spark job runs to find it; a directory or a glob
  * matching several files keeps Spark's own inference. The same read
  * tells whether the file holds a data row ([[csvWithRows]]), which lets
  * an ETL task skip an empty source without a Spark job.
  * Typed columns are opt-in via a source `"schema"` node —
  * `{"schema": {"name": "string", "bal": "int"}}` — parsed as Spark DDL
  * in declaration order (position-mapped to the file, like the header).
  *
  * XML (task.py:361-367,403-409 — petl fromxml): two shapes. The
  * value-match form's "first row is the header" contract is inherently
  * order-dependent, so it parses on the driver (exactly like the
  * reference's ElementTree) — it exists for config-sized inputs. The
  * mapping form uses Spark's native XML source (distributed, pushdown) and
  * is the scalable path.
  */
object Sources {

  /** JSONL (newline-delimited JSON) scan — the LLM-corpus interchange
    * format (public dumps ship as `.jsonl`/`.jsonl.gz`, which Spark's
    * json source decompresses by extension). Schema is REQUIRED: at
    * corpus scale, inference is a second full read with unpredictable
    * type widening — callers pass the target schema (or the writing
    * table's own `df.schema`, the round-trip form q94 pins). Reads
    * stay distributed and columns prune like any file scan; a missing
    * field reads as null (the JSON-writer convention of omitting null
    * fields round-trips losslessly).
    */
  def jsonl(spark: SparkSession, path: String,
            schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC scan — the OTHER columnar interchange format (Hive-era
    * warehouses ship ORC the way lakes ship parquet). Unlike JSONL the
    * file is self-describing AND columnar: column pruning and predicate
    * pushdown reach the stripe level, so a 2-column projection over a
    * wide corpus reads 2 columns' stripes, not the file. The explicit
    * schema is still the caller's contract (declared names/types are
    * enforced at read, not re-derived per file — at corpus scale a
    * million-file listing must not negotiate schemas per split).
    */
  def orc(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def csv(spark: SparkSession, path: String, node: Node): DataFrame =
    csvWithRows(spark, path, node)._1

  /** [[csv]], with whether the source holds a data row when the driver-side
    * header read can tell: a single regular file with a header line, in
    * both the inferred and the typed-`schema` branch. `None` (a directory,
    * a glob, a missing path, a 0-byte or blank file) leaves it to a Spark
    * job.
    */
  private[graft] def csvWithRows(spark: SparkSession, path: String,
                                 node: Node): (DataFrame, Option[Boolean]) = {
    val options = Map("header" -> "true", "inferSchema" -> "false",
      "sep" -> node.str("delimiter", ";"),
      "encoding" -> node.str("encoding", "utf-8"))
    val reader = spark.read.options(options)
    val head = CsvHeader.read(spark, path, options)
    val fields = node.objFields("schema")
    val df =
      if (fields.isEmpty)
        head.fold(reader.csv(path)) { case (schema, _) => reader.schema(schema).csv(path) }
      else {
        // {"schema": {"col": "type", ...}} — declaration order maps to file
        // column order, types are Spark DDL (int, bigint, double, date,
        // decimal(10,2), ...). Never inference: the declared schema is the
        // contract, malformed cells become null (Spark's permissive mode)
        // exactly like a failed petl convert.
        val ddl = fields.map { case (name, t) =>
          val tpe = t match {
            case org.json4s.JString(s) => s
            case other                 => other.values.toString
          }
          s"`$name` $tpe"
        }.mkString(", ")
        reader.schema(StructType.fromDDL(ddl)).csv(path)
      }
    (df, head.map(_._2))
  }

  /** SQL statement assembly (reference _parse_sql, task.py:94-107):
    * inline `command`, or `query` file under `path` (default "input"),
    * `{name}` parameter substitution, trailing `;` stripped.
    */
  def parseSql(node: Node): String = {
    var sql = node.strOpt("command").getOrElse {
      node.strOpt("query") match {
        case Some(q) =>
          val dir = node.str("path", "input")
          val src = scala.io.Source.fromFile(s"$dir/$q", "UTF-8")
          try src.getLines().mkString(" ")
          finally src.close()
        case None => ""
      }
    }
    node.objMap("params").foreach { case (k, v) =>
      val value = v match {
        case org.json4s.JString(s) => s
        case other                 => other.values.toString
      }
      sql = sql.replace(s"{$k}", value)
    }
    if (sql.endsWith(";")) sql.substring(0, sql.length - 1) else sql
  }

  /** petl fromxml value-match form: rows = elements matching the row tag;
    * cells = text of subelements matching the value tag (or attribute
    * `attr` of them); FIRST ROW IS THE HEADER. Driver-side parse
    * (order-dependent contract; see class doc).
    */
  def xmlValueForm(spark: SparkSession, path: String, rowMatch: String,
                   valueMatch: String, attr: Option[String]): DataFrame = {
    val root = scala.xml.XML.loadFile(path)
    val rowTag = rowMatch.split("/").last
    val valueTag = valueMatch.split("/").last
    val rows: Seq[Seq[String]] = (root \\ rowTag).map { r =>
      (r \ valueTag).map { v =>
        attr match {
          case Some(a) => (v \ s"@$a").text
          case None    => v.text
        }
      }
    }
    if (rows.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(Nil))
    val header = rows.head
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val data = rows.tail.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.padTo(header.size, null).take(header.size)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toList), schema)
  }

  /** petl fromxml mapping form: {field: path | [path, attr]} over the
    * native (distributed) Spark XML source. Paths are element paths
    * relative to the row element; attributes surface as `_attr` fields.
    */
  def xmlMappingForm(spark: SparkSession, path: String, rowMatch: String,
                     mapping: Map[String, org.json4s.JValue]): DataFrame = {
    val rowTag = rowMatch.split("/").last
    val raw = spark.read.option("rowTag", rowTag).xml(path)
    val cols = mapping.toSeq.map { case (field, spec) =>
      spec match {
        case org.json4s.JString(p) =>
          elemCol(p).cast("string").as(field)
        case org.json4s.JArray(List(org.json4s.JString(p), org.json4s.JString(a))) =>
          attrCol(p, a).cast("string").as(field)
        case other =>
          throw new IllegalArgumentException(s"bad xml mapping for $field: $other")
      }
    }
    raw.select(cols: _*)
  }

  /** Element text at `path` ("a/b" → a.b); element-with-attributes nests
    * its text under _VALUE in Spark's XML schema — callers cast to string,
    * and simple elements are already atomic.
    */
  private def elemCol(path: String) = {
    val dotted = path.replace("/", ".")
    col(dotted)
  }

  private def attrCol(path: String, attr: String) =
    if (path == "." || path.isEmpty) col(s"_$attr")
    else col(path.replace("/", ".") + s"._$attr")

  /** HTTP download to a local file (reference task.py:558-574) — driver-side
    * fetch to a staging path that any file source then reads.
    */
  def download(url: String, params: Map[String, String],
               headers: Map[String, String], targetFile: String): Long = {
    val qs =
      if (params.isEmpty) ""
      else params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString(if (url.contains("?")) "&" else "?", "&", "")
    val builder = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(url + qs))
      .GET()
    headers.foreach { case (k, v) => builder.header(k, v) }
    val client = java.net.http.HttpClient.newBuilder()
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()
    val resp = client.send(builder.build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() >= 400)
      throw new java.io.IOException(s"download failed: HTTP ${resp.statusCode()} for $url")
    val bytes = resp.body()
    val target = java.nio.file.Paths.get(targetFile)
    Option(target.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(target, bytes)
    bytes.length.toLong
  }
}
