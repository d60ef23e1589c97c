package graft.sinks

import graft.SparkSpec
import graft.config.TaskConfig
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CsvFile
import org.apache.spark.sql.types._

/** The single-file CSV sink writes the bytes of Spark's own CSV writer:
  * each case compares the sink's target file with the part file of
  * `coalesce(1).write.csv` under the same options, for truncate (the
  * part file) and for append (the old target followed by the part file).
  */
class CsvSinkSpec extends SparkSpec {

  private val Prior = "old;row\n".getBytes(UTF_8)

  private def node(sep: String, enc: String): TaskConfig.Node = {
    import org.json4s.JsonDSL._
    TaskConfig.Node(("delimiter" -> sep) ~ ("encoding" -> enc))
  }

  /** The part file Spark's writer makes of `df` under the sink's options. */
  private def sparkPart(df: DataFrame, sep: String, enc: String, truncate: Boolean): Array[Byte] = {
    val out = s"${tmpDir("graft_csvref_")}/out"
    df.coalesce(1).write.option("header", truncate.toString).option("sep", sep)
      .option("encoding", enc).option("emptyValue", "").csv(out)
    val Array(part) = new File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    Files.readAllBytes(part.toPath)
  }

  /** The sink's target after writing `df`; an append starts from [[Prior]]. */
  private def sinkTarget(df: DataFrame, sep: String, enc: String, truncate: Boolean)
      : (Array[Byte], Option[Long]) = {
    val target = Paths.get(tmpDir("graft_csvsink_"), "t.csv")
    if (!truncate) Files.write(target, Prior)
    val rows = CsvSink.writeSingle(df, target.toString, node(sep, enc), truncate)
    (Files.readAllBytes(target), rows)
  }

  private def assertSameBytes(df: DataFrame, sep: String = ";", enc: String = "utf-8"): Unit =
    for (truncate <- Seq(true, false)) {
      val expected = (if (truncate) Array.emptyByteArray else Prior) ++ sparkPart(df, sep, enc, truncate)
      val (got, rows) = sinkTarget(df, sep, enc, truncate)
      assert(got.toSeq == expected.toSeq,
        s"$enc, truncate=$truncate:\n${new String(got, UTF_8)}\n--- Spark:\n${new String(expected, UTF_8)}")
      assert(rows.contains(df.count()))
    }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val values: DataFrame = frame(Seq(
      Row("a;b", "say \"hi\"", Double.NaN, Timestamp.valueOf("2024-01-02 03:04:05.678"),
        Date.valueOf("2024-02-29"), new java.math.BigDecimal("12.345"), "Zürich ✓"),
      Row("line\nbreak", "cr\rhere", Double.PositiveInfinity, null, null, null, "ñandú"),
      Row(null, "", Double.NegativeInfinity, Timestamp.valueOf("1969-12-31 23:59:59"),
        Date.valueOf("1900-01-01"), new java.math.BigDecimal("-0.001"), null),
      Row("", null, -0.0, null, null, new java.math.BigDecimal("0.000"), ""),
      Row("  padded  ", "\"", 1.5e300, null, null, null, "日本")),
    StructType(Seq(
      StructField("text", StringType), StructField("semi;colon", StringType),
      StructField("q\"uote", DoubleType), StructField("ts", TimestampType),
      StructField("day", DateType), StructField("amount", DecimalType(10, 3)),
      StructField("intl", StringType))))

  test("values and header names match Spark's writer in every charset, truncate and append") {
    for (enc <- Seq("utf-8", "iso-8859-1", "us-ascii", "utf-16", "utf-16le"))
      assertSameBytes(values, enc = enc)
    // one byte order mark in a truncated utf-16 file
    val (utf16, _) = sinkTarget(values, ";", "utf-16", truncate = true)
    assert(utf16.take(2).toSeq == Seq(0xFE, 0xFF).map(_.toByte) &&
      !utf16.drop(2).grouped(2).exists(_.toSeq == Seq(0xFE, 0xFF).map(_.toByte)))
  }

  test("a multi-character delimiter matches Spark's writer") {
    assertSameBytes(frame(Seq(Row("a||b", "c"), Row("||", null)),
      StructType(Seq(StructField("x||y", StringType), StructField("z", StringType)))), sep = "||")
  }

  test("a one-column frame with empty and null cells matches Spark's writer") {
    assertSameBytes(frame(Seq(Row("a"), Row(""), Row(null), Row("b")),
      StructType(Seq(StructField("only", StringType)))))
  }

  test("a frame with no partition writes a header on truncate and appends nothing") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("a", StringType), StructField("b;c", LongType))))
    assert(empty.rdd.getNumPartitions == 0)
    assertSameBytes(empty)
    assert(new String(sinkTarget(empty, ";", "utf-8", truncate = true)._1, UTF_8) == "a;\"b;c\"\n")
    assert(sinkTarget(empty, ";", "utf-8", truncate = false)._1.toSeq == Prior.toSeq)
  }

  test("a source of several partitions keeps partition order") {
    val df = spark.range(0, 200, 1, 4).selectExpr("CAST(id AS STRING) AS id", "id * 2 AS twice")
    assert(df.rdd.getNumPartitions == 4)
    assertSameBytes(df)
    val (got, _) = sinkTarget(df, ";", "utf-8", truncate = true)
    assert(new String(got, UTF_8).linesIterator.drop(1).map(_.split(';').head.toInt).toSeq ==
      (0 until 200))
  }

  test("duplicate column names are written as Spark's writer writes them") {
    val df = spark.range(3).selectExpr("CAST(id AS STRING) AS a", "id * 10 AS a")
    assertSameBytes(df)
    assert(new String(sinkTarget(df, ";", "utf-8", truncate = true)._1, UTF_8)
      .startsWith("a;a\n0;0\n"))
  }

  test("an invalid charset or an array column fails as Spark's writer fails and leaves the target") {
    def condition(body: => Any): String =
      try { body; "no error" }
      catch { case e: SparkThrowable => e.getCondition }
    val tmpRoot = new File(System.getProperty("java.io.tmpdir"))
    def csvTempDirs(): Int = tmpRoot.listFiles().count(_.getName.startsWith("graft_csv_"))
    val before = csvTempDirs()
    val cases = Seq(
      (values, "latin1", "INVALID_PARAMETER_VALUE.CHARSET"),
      (spark.range(2).selectExpr("array(id) AS xs"), "utf-8", "UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE"))
    for ((df, enc, expected) <- cases; truncate <- Seq(true, false)) {
      assert(condition(sparkPart(df, ";", enc, truncate)) == expected)
      val target = Paths.get(tmpDir("graft_csvsink_"), "t.csv")
      Files.write(target, Prior)
      assert(condition(CsvSink.write(df, target.toString, node(";", enc), truncate)) == expected)
      assert(Files.readAllBytes(target).toSeq == Prior.toSeq)
    }
    // and the sink's temp dir is gone after a write that succeeded
    sinkTarget(values, ";", "utf-8", truncate = true)
    assert(csvTempDirs() == before)
  }

  test("a stale file of another attempt in the staging dir is never the one returned") {
    val dir = Paths.get(tmpDir("graft_csvstage_"))
    val stale = Seq("part-0.csv", "part-00000-0-c000.csv", "part-1.csv").map(dir.resolve)
    stale.foreach(Files.write(_, "stale;row\n".getBytes(UTF_8)))
    val options = Map("header" -> "true", "sep" -> ";", "encoding" -> "utf-8", "emptyValue" -> "")
    val staged = CsvFile.write(values, dir.toString, options)
    assert(!stale.contains(staged.file) && staged.file.getParent == dir)
    assert(staged.rows == 5L)
    assert(Files.readAllBytes(staged.file).toSeq == sparkPart(values, ";", "utf-8", truncate = true).toSeq)
    assert(stale.forall(f => Files.readString(f) == "stale;row\n"))
  }
}
