package graft.sources

import graft.SparkSpec
import graft.config.TaskConfig
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

/** `Sources.csv` without a typed schema must read exactly what Spark's own
  * header-inferring CSV reader reads: the same all-string schema (names
  * sanitized the same way) and the same rows, whatever the header line
  * looks like and wherever it sits. Each case also pins whether Spark's
  * reader finds any row (`isEmpty`): its data path drops every line whose
  * `String.trim` is empty and then the first line left as the header.
  * The driver-side read behind [[Sources.csvWithRows]] must give the same
  * answer for a single file with a header line, and no answer otherwise,
  * so that the task keeps its `isEmpty` probe.
  */
class CsvSourceSpec extends SparkSpec {

  private def node(json: String): TaskConfig.Node =
    TaskConfig.Node(org.json4s.jackson.JsonMethods.parse(json))

  private def write(path: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), bytes)
  }

  /** files (relative path → bytes), the path to read (relative to the
    * case's directory), the expected column names if pinned, whether
    * Spark's reader finds no row, and whether that is left to a probe
    */
  private case class Case(name: String, json: String, files: Seq[(String, Array[Byte])],
                          rel: String, names: Option[Seq[String]], isEmpty: Boolean,
                          probed: Boolean = false)

  private def file(text: String): Seq[(String, Array[Byte])] = Seq("f.csv" -> text.getBytes(UTF_8))

  private val cases: Seq[Case] = Seq(
    Case("plain file", "{}", file("a;b;c\n1;2;3\n4;5;6\n"), "f.csv", Some(Seq("a", "b", "c")),
      isEmpty = false),
    Case("names differing only in case", "{}", file("a;A;b;a\n1;2;3;4\n"), "f.csv",
      Some(Seq("a0", "A1", "b", "a3")), isEmpty = false),
    Case("empty header cell", "{}", file("a;;c\n1;2;3\n"), "f.csv", Some(Seq("a", "_c1", "c")),
      isEmpty = false),
    Case("quoted header holding the delimiter", "{}", file("\"x;y\";z\n1;2\n"), "f.csv",
      Some(Seq("x;y", "z")), isEmpty = false),
    Case("leading blank and whitespace-only lines", "{}", file("\n   \na;b\n1;2\n"), "f.csv",
      Some(Seq("a", "b")), isEmpty = false),
    // Spark skips blank and space-only lines but takes a tab-only line
    // as the header: one column named by the tab
    Case("tab-only line before the header", "{}", file("\t\na;b\n1;2\n"), "f.csv",
      Some(Seq("\t")), isEmpty = false),
    // ... while its data path drops the tab-only line and takes `a;b` as
    // the header, so no row is left
    Case("tab-only line before a header with no rows", "{}", file("\t\na;b\n"), "f.csv",
      Some(Seq("\t")), isEmpty = true),
    Case("UTF-8 byte order mark", "{}", file("\uFEFFa;b\n1;2\n"), "f.csv", Some(Seq("a", "b")),
      isEmpty = false),
    // Hadoop's line reader drops the mark from the file's first line, so
    // that line is blank to Spark
    Case("byte order mark alone on the first line", "{}", file("\uFEFF\na;b\n1;2\n"), "f.csv",
      Some(Seq("a", "b")), isEmpty = false),
    Case("byte order mark alone before a header with no rows", "{}", file("\uFEFF\na;b\n"),
      "f.csv", Some(Seq("a", "b")), isEmpty = true),
    Case("ISO-8859-1 with encoding", """{"encoding": "ISO-8859-1"}""",
      Seq("f.csv" -> "café;b\nçà;2\n".getBytes(ISO_8859_1)), "f.csv", Some(Seq("café", "b")),
      isEmpty = false),
    Case("CRLF line ends", "{}", file("a;b\r\n1;2\r\n3;4\r\n"), "f.csv", Some(Seq("a", "b")),
      isEmpty = false),
    Case("comma delimiter", """{"delimiter": ","}""", file("a,b\n1,2\n"), "f.csv",
      Some(Seq("a", "b")), isEmpty = false),
    Case("header-only file", "{}", file("a;b\n"), "f.csv", Some(Seq("a", "b")), isEmpty = true),
    Case("header-only file, CRLF", "{}", file("a;b\r\n"), "f.csv", Some(Seq("a", "b")),
      isEmpty = true),
    Case("header-only file, no final line end", "{}", file("a;b"), "f.csv", Some(Seq("a", "b")),
      isEmpty = true),
    Case("header followed only by blank, space-only and tab-only lines", "{}",
      file("a;b\n\n   \n\t\n \t \n"), "f.csv", Some(Seq("a", "b")), isEmpty = true),
    Case("header and one space-padded single-cell row", "{}", file("a\n  x  \n"), "f.csv",
      Some(Seq("a")), isEmpty = false),
    Case("0-byte file", "{}", Seq("f.csv" -> Array.emptyByteArray), "f.csv", Some(Seq.empty),
      isEmpty = true, probed = true),
    Case("directory of two files with different headers", "{}",
      Seq("d/p1.csv" -> "a;b\n1;2\n".getBytes(UTF_8),
          "d/p2.csv" -> "x;y;z\n3;4;5\n6;7;8\n".getBytes(UTF_8)), "d", None, isEmpty = false,
      probed = true))

  private def sparkReader(src: TaskConfig.Node) = spark.read
    .option("header", "true")
    .option("inferSchema", "false")
    .option("sep", src.str("delimiter", ";"))
    .option("encoding", src.str("encoding", "utf-8"))

  cases.foreach { c =>
    test(s"Sources.csv reads like Spark's header inference: ${c.name}") {
      val dir = tmpDir("graft_csvsrc_")
      c.files.foreach { case (f, bytes) => write(s"$dir/$f", bytes) }
      val src = node(c.json)
      val path = s"$dir/${c.rel}"
      val (got, hasRows) = Sources.csvWithRows(spark, path, src)
      val want = sparkReader(src).csv(path)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq)
      c.names.foreach(n => assert(got.columns.toSeq == n))
      assert(want.isEmpty == c.isEmpty)
      assert(got.isEmpty == c.isEmpty)
      assert(hasRows == (if (c.probed) None else Some(!c.isEmpty)))
      assert(Sources.csv(spark, path, src).schema == got.schema)
    }
  }

  test("Sources.csv with a typed schema reads a header-only file as Spark does: no row") {
    val dir = tmpDir("graft_csvsrc_")
    write(s"$dir/f.csv", "a;b\n".getBytes(UTF_8))
    write(s"$dir/g.csv", "a;b\n\t\nx;1\n".getBytes(UTF_8))
    val src = node("""{"schema": {"a": "string", "b": "int"}}""")
    val (got, hasRows) = Sources.csvWithRows(spark, s"$dir/f.csv", src)
    val want = sparkReader(src).schema("`a` string, `b` int").csv(s"$dir/f.csv")
    assert(got.schema == want.schema)
    assert(want.isEmpty && got.isEmpty)
    assert(hasRows == Some(false))
    val (withRow, rowKnown) = Sources.csvWithRows(spark, s"$dir/g.csv", src)
    assert(withRow.collect().toSeq.map(_.toSeq) == Seq(Seq("x", 1)))
    assert(rowKnown == Some(true))
  }
}
