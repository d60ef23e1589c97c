package graft.transform

import graft.SparkSpec
import graft.config.TaskConfig
import graft.runner.TaskLog
import org.apache.spark.sql.Row

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private def taskNode(json: String): TaskConfig.Node =
    TaskConfig.Node(org.json4s.jackson.JsonMethods.parse(json))

  test("petl transform block applies convert, filter, remove, rename in order") {
    val df = Seq(
      ("alice", "10", "m1", "x"),
      ("bob", "2000", "m2", "y"),
      ("carol", "1500", "m3", "z")).toDF("c_name", "bal", "seg", "extra")
    val task = taskNode(
      """{"transform": {
        |  "convert": [["c_name", "upper"], ["bal", "int"]],
        |  "filter": "{bal} > 1000",
        |  "remove": ["seg"],
        |  "rename": [["c_name", "name"]]
        |}}""".stripMargin)
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.columns.toSeq == Seq("name", "bal", "extra"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("BOB", 2000L), ("CAROL", 1500L)))
  }

  test("psl knob reroutes the domain converts; bundled default without it") {
    // wildcard (*.ck: any ONE label under ck is public) + exception
    // (!www.ck) + an exact rule absent from the bundled subset
    val wd = tmpDir("graft_psl_knob_")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wd/rules.dat"),
      "// test rules\nexample\n*.ck\n!www.ck\n")
    val df = Seq(
      "https://deep.sub.example/x",
      "https://a.b.ck/y",
      "https://host.www.ck/z").toDF("url")
    val task = taskNode(
      s"""{"transform": {
         |  "psl": "$wd/rules.dat",
         |  "convert": [["url", "url_domain"]]
         |}}""".stripMargin)
    val got = Transforms(df, task, TaskLog.Silent)
      .as[String].collect().toSeq
    // sub.example under the exact rule; b.ck is a wildcard public
    // suffix so a.b.ck registers; www.ck is the exception, so the cut
    // is www.ck itself
    assert(got == Seq("sub.example", "a.b.ck", "www.ck"), got.toString)
    // without the knob, the bundled subset applies (last-two fallback)
    val noKnob = taskNode(
      """{"transform": {"convert": [["url", "url_domain"]]}}""")
    val dflt = Transforms(df, noKnob, TaskLog.Silent)
      .as[String].collect().toSeq
    assert(dflt == Seq("sub.example", "b.ck", "www.ck"), dflt.toString)
  }

  test("dict-mapping convert passes unmapped values through") {
    val df = Seq("M", "F", "X").toDF("g")
    val task = taskNode("""{"transform": {"convert": [["g", {"M": "Male", "F": "Female"}]]}}""")
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.as[String].collect().sorted.toSeq == Seq("Female", "Male", "X"))
  }

  test("module dispatch: transform node with module key runs the module, not petl") {
    val df = Seq(("", "a"), ("b", "")).toDF("x", "y")
    val task = taskNode("""{"transform": {"module": "empty_as_null"}}""")
    val out = Transforms(df, task, TaskLog.Silent)
    val rows = out.collect()
    assert(rows.contains(Row(null, "a")) && rows.contains(Row("b", null)))
  }

  test("singular node with module AND petl keys applies module, then petl (task.py:168-171)") {
    val df = Seq(("", "a"), ("b", "c")).toDF("x", "y")
    val task = taskNode(
      """{"transform": {"module": "empty_as_null",
        |               "remove": ["y"], "rename": [["x", "z"]]}}""".stripMargin)
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.columns.toSeq == Seq("z"))
    val vals = out.collect().map(r => Option(r.getString(0))).toSet
    assert(vals == Set(None, Some("b")), "module (empty→null) must run before petl keys")
  }

  test("empty_as_null restricted to given fields") {
    val df = Seq(("", "")).toDF("x", "y")
    val task = taskNode(
      """{"transforms": [{"module": "empty_as_null", "fields": ["x"]}]}""")
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.collect().head == Row(null, ""))
  }

  test("sanitize_string maps control chars to spaces") {
    val df = Seq("ab\tc").toDF("x")
    val task = taskNode("""{"transforms": [{"module": "sanitize_string"}]}""")
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.as[String].collect().head == "a b c")
  }

  test("modules run before petl transforms") {
    // rename would break the module's field reference if petl ran first
    val df = Seq("").toDF("x")
    val task = taskNode(
      """{"transforms": [{"module": "empty_as_null", "fields": ["x"]}],
        | "transform": {"rename": [["x", "z"]]}}""".stripMargin)
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.columns.toSeq == Seq("z"))
    assert(out.collect().head.isNullAt(0))
  }

  test("repeated converts of one field compose in config order") {
    val df = Seq(("  ab ", "x")).toDF("f", "g")
    // dict after upper only hits if upper ran first: order is observable
    val task = taskNode(
      """{"transform": {"convert": [["f", "strip"], ["f", "upper"],
        |                           ["f", {"AB": "hit"}]]}}""".stripMargin)
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.columns.toSeq == Seq("f", "g"))
    assert(out.collect().toSeq == Seq(Row("hit", "x")))
  }

  test("converts naming one field in different case compose (case-insensitive resolver)") {
    val df = Seq(("  ab ", "x")).toDF("A", "g")
    val task = taskNode(
      """{"transform": {"convert": [["A", "strip"], ["a", "upper"]]}}""")
    val out = Transforms(df, task, TaskLog.Silent)
    // the replaced column takes the last convert's spelling, like withColumn
    assert(out.columns.toSeq == Seq("a", "g"))
    assert(out.collect().toSeq == Seq(Row("AB", "x")))
  }

  test("empty_as_null and the convert block keep the input's column order") {
    val df = Seq(("", "b", "7", "d")).toDF("w", "x", "y", "z")
    val task = taskNode(
      """{"transforms": [{"module": "empty_as_null"}],
        | "transform": {"convert": [["z", "upper"], ["y", "int"], ["x", "upper"]]}}""".stripMargin)
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.columns.toSeq == Seq("w", "x", "y", "z"))
    assert(out.collect().toSeq == Seq(Row(null, "B", 7L, "D")))
  }

  test("the lineitem transform block analyses to one projection per step") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val names = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate", "l_commitdate", "l_receiptdate",
      "l_shipinstruct", "l_shipmode", "l_comment")
    // a bare relation: toDF's own renaming projection would blur the count
    val df = spark.createDataFrame(
      java.util.List.of(Row.fromSeq(names.map(n => if (n == "l_discount") "0.05" else "1"))),
      StructType(names.map(StructField(_, StringType))))
    val task = taskNode(
      """{"transform": {"module": "empty_as_null",
        | "convert": [["l_returnflag", "lower"], ["l_linestatus", "lower"],
        |             ["l_extendedprice", "float"], ["l_discount", "float"],
        |             ["l_quantity", "float"]],
        | "filter": "{l_discount} >= 0.02 and {l_shipmode} is not None",
        | "remove": ["l_tax", "l_suppkey"],
        | "rename": [["l_extendedprice", "extended_price"],
        |            ["l_returnflag", "return_flag"]]}}""".stripMargin)
    val out = Transforms(df, task, TaskLog.Silent)
    // empty_as_null, convert, remove, rename: one Project each
    val projects = out.queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects <= 4, s"$projects Project nodes in\n${out.queryExecution.analyzed}")
    assert(out.count() == 1)
  }

  test("custom TransformModule loads by class name") {
    val df = Seq(1, 2).toDF("n")
    val task = taskNode(
      """{"transforms": [{"module": "graft.transform.DoubleModule"}]}""")
    val out = Transforms(df, task, TaskLog.Silent)
    assert(out.as[Int].collect().sorted.toSeq == Seq(2, 4))
  }
}

/** Test fixture for the reflection-loaded SPI path. */
class DoubleModule extends TransformModule {
  def transform(df: org.apache.spark.sql.DataFrame, fields: Seq[String],
                args: Map[String, String]): org.apache.spark.sql.DataFrame =
    df.withColumn("n", org.apache.spark.sql.functions.col("n") * 2)
}
