package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the table loaders against Spark's own parquet reader.
  *
  * The unit-robust events loader: the driver regenerates the fixture and
  * has already shipped `ts` as both raw INT64 nanos and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false); a scale-grade source reads the footer's
  * logical type instead of assuming one physical encoding.
  *
  * Parity: for every fixture table, every `events` encoding as a single
  * file, and a Spark-written part file, `Tables.load` yields the schema
  * and the order-free row digest of `spark.read.parquet` (plus, for
  * `events`, the documented `ts` adaptation).
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures =
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  /** Row count and the sum of every row's xxhash64: equal for two frames
    * holding the same rows in any order.
    */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(df.col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def assertParity(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"schema of $what")
    assert(digest(got) == digest(want), s"rows of $what")
  }

  /** Spark's inferred read of an events file, with `ts` adapted as the
    * loader documents.
    */
  private def eventsBySpark(path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other => fail(s"$path: unexpected ts type $other")
    }
  }

  // 2025-01-01T00:00:00Z and +1.5s, in nanos since epoch
  private val nanos = Seq(1735689600000000000L, 1735689601500000000L)

  private def base: DataFrame =
    Seq((1L, nanos(0), 10L, "click", 1.5, "{}"),
        (2L, nanos(1), 11L, "view", 2.0, "{}"))
      .toDF("event_id", "ts_n", "user_id", "event_type", "value", "props")

  private def check(dir: String): Unit = {
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    val tss = got.orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    assert(tss == nanos.map(_ / 1000L), s"wrong ts values from $dir")
  }

  test("loadEvents reads raw INT64-nanos ts (legacy fixture encoding)") {
    val dir = tmpDir("graft_ev_raw_")
    base.withColumn("ts", col("ts_n"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    check(dir)
  }

  test("loadEvents reads TIMESTAMP(MICROS, ntz) ts (current fixture encoding)") {
    val dir = tmpDir("graft_ev_ntz_")
    base.withColumn("ts",
        expr("timestamp_micros(ts_n div 1000)").cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    check(dir)
  }

  test("loadEvents reads UTC-adjusted timestamp ts unchanged") {
    val dir = tmpDir("graft_ev_tz_")
    base.withColumn("ts", expr("timestamp_micros(ts_n div 1000)"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    check(dir)
  }

  test("live fixture events land in the fixture's epoch, not 1970") {
    val fx = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$fx/events.parquet").exists())
    val yr = Tables.load(spark, fx, "events")
      .agg(max(year(col("ts")))).head.getInt(0)
    assert(yr > 2000, s"events ts collapsed to epoch (max year $yr)")
  }

  test("Tables.load equals Spark's parquet reader on every fixture table") {
    for (fx <- fixtures; name <- Tables.names) {
      val path = s"$fx/$name.parquet"
      assume(new java.io.File(path).isFile, s"$path missing")
      val want =
        if (name == "events") eventsBySpark(path) else spark.read.parquet(path)
      assertParity(Tables.load(spark, fx, name), want, path)
    }
  }

  /** `base`'s rows as a single parquet file written by parquet-mr (no
    * Spark row metadata in the footer), `ts` annotated as `tsType` and
    * stored as `nanos` mapped through `unit`.
    */
  private def writeEvents(path: String, tsType: String, unit: Long => Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  optional int64 event_id;
         |  optional int64 ts $tsType;
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(path))
      .withType(schema).withConf(new Configuration()).build()
    try base.collect().foreach { r =>
      w.write(groups.newGroup()
        .append("event_id", r.getLong(0))
        .append("ts", unit(r.getLong(1)))
        .append("user_id", r.getLong(2))
        .append("event_type", r.getString(3))
        .append("value", r.getDouble(4))
        .append("props", r.getString(5)))
    } finally w.close()
  }

  /** One single-file `events` fixture per `ts` encoding the loader
    * handles; NANOS is the one Spark's schema inference rejects.
    */
  private lazy val eventFiles: Seq[(String, String)] = {
    val encodings = Seq(
      "ntz_micros" -> ("(TIMESTAMP(MICROS,false))", (n: Long) => n / 1000L),
      "utc_micros" -> ("(TIMESTAMP(MICROS,true))", (n: Long) => n / 1000L),
      "utc_millis" -> ("(TIMESTAMP(MILLIS,true))", (n: Long) => n / 1000000L),
      "raw_int64" -> ("", (n: Long) => n),
      "nanos" -> ("(TIMESTAMP(NANOS,true))", (n: Long) => n))
    encodings.map { case (enc, (tsType, unit)) =>
      val dir = tmpDir(s"graft_ev_file_${enc}_")
      writeEvents(s"$dir/events.parquet", tsType, unit)
      enc -> dir
    }
  }

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("loadEvents reads a single file in every ts encoding to the same rows") {
    val want = base.withColumn("ts", expr("timestamp_micros(ts_n div 1000)"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    for ((enc, dir) <- eventFiles) {
      val got = Tables.load(spark, dir, "events")
      assert(got.schema == eventsSchema, s"schema of $enc")
      assert(digest(got) == digest(want), s"rows of $enc")
      check(dir)
      if (enc != "nanos")
        assertParity(got, eventsBySpark(s"$dir/events.parquet"), enc)
    }
  }

  /** A frame of many column types, with field metadata, written by Spark
    * as one part file and moved to `<dir>/<name>.parquet`.
    */
  private def sparkPartFile(dir: String, name: String): Unit = {
    val df = Seq(
      (1L, 1.toShort, 2.toByte, BigDecimal("12.50"), "a", Seq(1.0f, 2.0f), (3, "x")),
      (2L, 3.toShort, 4.toByte, BigDecimal("-0.01"), null, Seq.empty[Float], (4, null)))
      .toDF("id", "s", "b", "d", "txt", "vec", "st")
      .withColumn("d", col("d").cast("decimal(9,2)"))
      .withColumn("ts", expr("timestamp_micros(id * 1000000)"))
      .withColumn("ntz", expr("timestamp_micros(id * 1000000)").cast(TimestampNTZType))
      .withColumn("day", expr("date_from_unix_date(cast(id as int))"))
      .withColumn("bin", expr("cast(txt as binary)"))
      .withColumn("txt", col("txt").as("txt", new MetadataBuilder()
        .putString("comment", "free text").build()))
    val out = s"$dir/_spark_out_$name"
    df.coalesce(1).write.parquet(out)
    val part = Files.list(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).filter(_.toString.endsWith(".parquet"))
    assert(part.length == 1)
    Files.move(part.head, Paths.get(s"$dir/$name.parquet"))
  }

  test("a Spark-written part file read as a single file equals Spark's reader") {
    val dir = tmpDir("graft_part_file_")
    sparkPartFile(dir, "parts")
    val got = Tables.load(spark, dir, "parts")
    assertParity(got, spark.read.parquet(s"$dir/parts.parquet"), "part file")
    assert(got.schema("txt").metadata.getString("comment") == "free text")
  }

  test("a glob over two files and a missing path behave as Spark's reader") {
    val dir = tmpDir("graft_glob_")
    sparkPartFile(dir, "a")
    sparkPartFile(dir, "b")
    assertParity(Tables.load(spark, dir, "*"), spark.read.parquet(s"$dir/*.parquet"), "glob")
    def sameFailure(what: String)(ours: => Any, theirs: => Any): Unit = {
      val o = intercept[Exception](ours)
      val t = intercept[Exception](theirs)
      assert(o.getClass == t.getClass, s"$what: $o vs $t")
    }
    // Spark's listing drops a hidden-named root file, so it finds no file
    sparkPartFile(dir, "_hidden")
    sameFailure("hidden-named file")(Tables.load(spark, dir, "_hidden").collect(),
      spark.read.parquet(s"$dir/_hidden.parquet"))
    for (name <- Seq("lineitem", "events"))
      sameFailure(s"missing $name")(Tables.load(spark, s"$dir/missing", name).collect(),
        spark.read.parquet(s"$dir/missing/$name.parquet"))
  }

  test("Tables.load runs no Spark job on a single-file table") {
    val partDir = tmpDir("graft_part_jobs_")
    sparkPartFile(partDir, "parts")
    val files = fixtures.flatMap(fx => Tables.names.map(fx -> _))
      .filter { case (dir, name) => new java.io.File(s"$dir/$name.parquet").isFile } ++
      eventFiles.map { case (_, dir) => dir -> "events" } :+ (partDir -> "parts")
    for ((dir, name) <- files) {
      val jobs = jobsOf { Tables.load(spark, dir, name); () }
      assert(jobs == 0, s"$dir/$name: $jobs jobs")
    }
  }
}
