package graft.sources

import graft.SparkSpec
import graft.config.TaskConfig
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

/** `Sources.csv` without a typed schema must read exactly what Spark's own
  * header-inferring CSV reader reads: the same all-string schema (names
  * sanitized the same way) and the same rows, whatever the header line
  * looks like and wherever it sits.
  */
class CsvSourceSpec extends SparkSpec {

  private def node(json: String): TaskConfig.Node =
    TaskConfig.Node(org.json4s.jackson.JsonMethods.parse(json))

  private def write(path: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), bytes)
  }

  /** name, source node, files (relative path → bytes), path to read
    * (relative to the case's directory), expected column names if pinned
    */
  private val cases
      : Seq[(String, String, Seq[(String, Array[Byte])], String, Option[Seq[String]])] = Seq(
    ("plain file", "{}",
      Seq("f.csv" -> "a;b;c\n1;2;3\n4;5;6\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "b", "c"))),
    ("names differing only in case", "{}",
      Seq("f.csv" -> "a;A;b;a\n1;2;3;4\n".getBytes(UTF_8)), "f.csv",
      Some(Seq("a0", "A1", "b", "a3"))),
    ("empty header cell", "{}",
      Seq("f.csv" -> "a;;c\n1;2;3\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "_c1", "c"))),
    ("quoted header holding the delimiter", "{}",
      Seq("f.csv" -> "\"x;y\";z\n1;2\n".getBytes(UTF_8)), "f.csv", Some(Seq("x;y", "z"))),
    ("leading blank and whitespace-only lines", "{}",
      Seq("f.csv" -> "\n   \na;b\n1;2\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "b"))),
    // Spark skips blank and space-only lines but takes a tab-only line
    // as the header: one column named by the tab
    ("tab-only line before the header", "{}",
      Seq("f.csv" -> "\t\na;b\n1;2\n".getBytes(UTF_8)), "f.csv", Some(Seq("\t"))),
    ("UTF-8 byte order mark", "{}",
      Seq("f.csv" -> "\uFEFFa;b\n1;2\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "b"))),
    ("ISO-8859-1 with encoding", """{"encoding": "ISO-8859-1"}""",
      Seq("f.csv" -> "café;b\nçà;2\n".getBytes(ISO_8859_1)), "f.csv", Some(Seq("café", "b"))),
    ("CRLF line ends", "{}",
      Seq("f.csv" -> "a;b\r\n1;2\r\n3;4\r\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "b"))),
    ("comma delimiter", """{"delimiter": ","}""",
      Seq("f.csv" -> "a,b\n1,2\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "b"))),
    ("header-only file", "{}",
      Seq("f.csv" -> "a;b\n".getBytes(UTF_8)), "f.csv", Some(Seq("a", "b"))),
    ("0-byte file", "{}",
      Seq("f.csv" -> Array.emptyByteArray), "f.csv", Some(Seq.empty)),
    ("directory of two files with different headers", "{}",
      Seq("d/p1.csv" -> "a;b\n1;2\n".getBytes(UTF_8),
          "d/p2.csv" -> "x;y;z\n3;4;5\n6;7;8\n".getBytes(UTF_8)), "d", None))

  cases.foreach { case (name, json, files, rel, names) =>
    test(s"Sources.csv reads like Spark's header inference: $name") {
      val dir = tmpDir("graft_csvsrc_")
      files.foreach { case (f, bytes) => write(s"$dir/$f", bytes) }
      val src = node(json)
      val path = s"$dir/$rel"
      val got = Sources.csv(spark, path, src)
      val want = spark.read
        .option("header", "true")
        .option("inferSchema", "false")
        .option("sep", src.str("delimiter", ";"))
        .option("encoding", src.str("encoding", "utf-8"))
        .csv(path)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq)
      names.foreach(n => assert(got.columns.toSeq == n))
    }
  }
}
