package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.{ListMap, VectorMap}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The spot-bench driver: every family measured at a volume the
  * per-round sf0.1 suite ([[Bench]]) never reaches, behind one main.
  *
  * {{{
  * sbt "runMain graft.ScaleBench"                  # every family, one JVM
  * sbt "runMain graft.ScaleBench cluster,excise"   # the named families
  * }}}
  *
  * A family is a function from a [[ScaleBench.Ctx]] to its record's
  * fields; it runs its own timing protocol and its own asserts and
  * returns only when they hold. The driver owns the rest: the session
  * (`SPARK_GRAFT_CPUS` cores, default all of the box), the context
  * block every record carries (`sf`, `cpus`, `loadavg_before`,
  * `loadavg_after`, `steal_s`, `contended`), rounding (doubles to 4
  * decimals), the work dir (deleted when the family ends, however it
  * ends), the cache reset between families, one JSON line per record on
  * stdout, and the artifact.
  *
  * The artifact (`SCALE_BENCH.json`, or `SPARK_GRAFT_SCALE_OUT`) is one
  * JSON object keyed by family, one family per line. A family's key is
  * rewritten only after it returns: a failed assert leaves the last
  * good record in place, and families not run keep theirs.
  */
object ScaleBench {

  /** What a family gets: the shared session and its core count, the
    * fixture dir, and a fresh work dir of its own.
    */
  final case class Ctx(spark: SparkSession, cpus: Int, sfDir: String,
                       tmp: String)

  /** A family's fields, later the whole record. */
  type Record = JObject
  type Family = Ctx => Record

  val families: ListMap[String, Family] = ListMap(
    "ann_recall" -> AnnRecallBench.recall,
    "ann_scale" -> AnnRecallBench.scale,
    "cluster" -> ClusterBench.run,
    "crawl_scale" -> CrawlScaleBench.run,
    "crawl_stream" -> CrawlStreamBench.run,
    "dedup_recall" -> DedupRecallBench.run,
    "excise" -> ExciseBench.run,
    "filter" -> FilterBench.run,
    "index" -> IndexBench.run,
    "pipeline" -> PipelineBench.run,
    "relational" -> RelationalCoreBench.run,
    "retrieval" -> RetrievalBench.run,
    "sem" -> SemBench.run,
    "stream_ingest" -> StreamIngestBench.run,
    "warc" -> WarcBench.run)

  def main(args: Array[String]): Unit = {
    val cpus = BenchHarness.cpus(Runtime.getRuntime.availableProcessors())
    val spark = BenchHarness.session(cpus)
    try run(spark, cpus, BenchHarness.sfDir, args.toSeq, families,
      BenchHarness.env("SPARK_GRAFT_SCALE_OUT", "SCALE_BENCH.json"))
    finally spark.stop()
  }

  /** Run the `selected` families (comma-separated names; none = all) in
    * order, each recorded into `out` as soon as it returns. Unknown
    * names are rejected before anything runs.
    */
  def run(spark: SparkSession, cpus: Int, sfDir: String,
          selected: Seq[String], families: ListMap[String, Family],
          out: String): Seq[JObject] = {
    val names = selected.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(families.contains)
    require(unknown.isEmpty,
      s"unknown family ${unknown.mkString(", ")}; known: ${families.keys.mkString(", ")}")
    val chosen = if (names.isEmpty) families.keys.toSeq else names.distinct
    chosen.map { name =>
      val rec = measure(spark, cpus, sfDir, families(name))
      println(compact(render(rec)))
      record(out, name, rec)
      rec
    }
  }

  /** One family under the context block, in its own work dir. */
  private def measure(spark: SparkSession, cpus: Int, sfDir: String,
                      family: Family): JObject = {
    val dir = Files.createTempDirectory("graft_scalebench_").toString
    val loadBefore = BenchHarness.loadavg
    val stealBefore = BenchHarness.stealSeconds
    val fields = try family(Ctx(spark, cpus, sfDir, dir)) finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    }
    rounded(fields ~ ("sf" -> sfDir) ~ ("cpus" -> cpus) ~
      ("loadavg_before" -> loadBefore) ~ ("loadavg_after" -> BenchHarness.loadavg) ~
      ("steal_s" -> (BenchHarness.stealSeconds - stealBefore)) ~
      ("contended" -> BenchHarness.contended(loadBefore)))
  }

  /** Every double to 4 decimals; a non-finite one (a ratio over a zero
    * time) becomes null, which JSON can carry.
    */
  private def rounded(v: JObject): JObject = v.transform {
    case JDouble(d) if d.isNaN || d.isInfinite => JNull
    case JDouble(d) =>
      JDouble(BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }.asInstanceOf[JObject]

  /** Rewrite `family`'s key of the artifact at `path`, keeping every
    * other key as read (decimals unparsed, so their digits survive).
    */
  private def record(path: String, family: String, rec: JObject): Unit = {
    val file = Paths.get(path).toAbsolutePath
    val prior = if (!Files.exists(file)) Nil else
      parse(new String(Files.readAllBytes(file), UTF_8),
        useBigDecimalForDouble = true).asInstanceOf[JObject].obj
    // VectorMap: a rewritten key keeps its line
    val text = VectorMap(prior: _*).updated(family, rec).map { case (k, v) =>
      s"  ${compact(render(JString(k)))}: ${compact(render(v))}"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.createDirectories(file.getParent)
    val tmp = Files.createTempFile(file.getParent, ".scale_bench", ".json")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
