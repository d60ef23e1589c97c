package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.parse

class ScaleBenchSpec extends SparkSpec {

  private val contextKeys = Seq("sf", "cpus", "loadavg_before",
    "loadavg_after", "steal_s", "contended")

  private def artifact(dir: String): String = s"$dir/SCALE_BENCH.json"

  private def read(path: String): Map[String, JValue] =
    parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8)) match {
      case JObject(fs) => fs.toMap
      case other       => fail(s"artifact is not an object: $other")
    }

  private def run(out: String, families: ListMap[String, ScaleBench.Family],
                  selected: String*): Seq[JObject] =
    ScaleBench.run(spark, 4, "/root/testdata/sf0.001", selected, families, out)

  private def returning(fields: JObject): ScaleBench.Family = _ => fields

  private def graftTmpDirs: Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String]).filter(_.startsWith("graft_")).toSet

  test("gitSha names the checkout's HEAD, and nothing outside a checkout") {
    assume(Files.isDirectory(Paths.get(".git")))
    assert(BenchHarness.gitSha().exists(_.matches("[0-9a-f]{40}")))
    assert(BenchHarness.gitSha(new java.io.File(tmpDir("graft_nogit_"))).isEmpty)
  }

  test("a family's record parses back with the context block, its own fields and doubles at 4 decimals") {
    val out = artifact(tmpDir("graft_sbspec_"))
    var workDir = ""
    val fake: ScaleBench.Family = ctx => {
      workDir = ctx.tmp
      assert(new java.io.File(ctx.tmp).isDirectory)
      ("bench" -> "fake") ~ ("n_docs" -> 42L) ~ ("t_s" -> 1.234567) ~
        ("ratio" -> Double.NaN) ~ ("batch_s" -> Seq(0.123456, 2.0))
    }
    run(out, ListMap("fake" -> fake))
    val rec = read(out)("fake")
    contextKeys.foreach(k => assert(rec \ k != JNothing, s"missing context key $k"))
    assert(rec \ "sf" == JString("/root/testdata/sf0.001"))
    assert(rec \ "cpus" == JInt(4))
    assert(rec \ "bench" == JString("fake"))
    assert(rec \ "n_docs" == JInt(42))
    assert(rec \ "t_s" == JDouble(1.2346))
    assert(rec \ "ratio" == JNull)
    assert(rec \ "batch_s" == JArray(List(JDouble(0.1235), JDouble(2.0))))
    assert(!new java.io.File(workDir).exists(), "work dir must be deleted")
  }

  test("an unknown family is rejected, naming the known ones, before any family runs") {
    val out = artifact(tmpDir("graft_sbspec_"))
    var ran = false
    val fake: ScaleBench.Family = _ => { ran = true; JObject() }
    val e = intercept[IllegalArgumentException] {
      run(out, ListMap("alpha" -> fake, "beta" -> fake), "alpha,gamma")
    }
    assert(e.getMessage.contains("gamma"))
    assert(e.getMessage.contains("alpha, beta"))
    assert(!ran)
    assert(!Files.exists(Paths.get(out)))
    assert(ScaleBench.families.size == 15)
  }

  test("a family that throws leaves the artifact byte-identical and its work dir deleted") {
    val out = artifact(tmpDir("graft_sbspec_"))
    run(out, ListMap("good" -> returning("x" -> 1)))
    val before = Files.readAllBytes(Paths.get(out))
    var workDir = ""
    val failing: ScaleBench.Family = ctx => {
      workDir = ctx.tmp
      Files.write(Paths.get(ctx.tmp, "partial"), Array[Byte](1))
      require(false, "recall 0.1 < 0.9")
      JObject()
    }
    val e = intercept[IllegalArgumentException] {
      run(out, ListMap("good" -> returning("x" -> 2), "bad" -> failing), "bad")
    }
    assert(e.getMessage.contains("recall 0.1 < 0.9"))
    assert(Files.readAllBytes(Paths.get(out)).sameElements(before))
    assert(workDir.nonEmpty && !new java.io.File(workDir).exists())
  }

  test("a run of one family rewrites its key and leaves the others intact") {
    val out = artifact(tmpDir("graft_sbspec_"))
    // a prior key whose decimals must survive the rewrite digit for digit
    Files.write(Paths.get(out),
      """{"old":{"recall":0.40,"n":7},"a":{"x":0}}""".getBytes(UTF_8))
    val fams = ListMap("a" -> returning("x" -> 1), "b" -> returning("y" -> 2))
    run(out, fams, "a")
    run(out, fams, "b")
    val text = new String(Files.readAllBytes(Paths.get(out)), UTF_8)
    assert(text.contains(""""old": {"recall":0.40,"n":7}"""))
    val got = read(out)
    assert(got.keySet == Set("old", "a", "b"))
    assert(got("a") \ "x" == JInt(1))
    assert(got("b") \ "y" == JInt(2))
  }

  test("the excise family runs end to end on sf0.001 and leaves no graft_ temp dir") {
    val out = artifact(tmpDir("graft_sbspec_"))
    val tmpBefore = graftTmpDirs
    val Seq(rec) = run(out, ScaleBench.families, "excise")
    assert(graftTmpDirs == tmpBefore)
    assert(rec \ "bench" == JString("excise_sf1"))
    val nDocs = (rec \ "n_docs").asInstanceOf[JInt].num
    assert(nDocs > 0)
    assert((rec \ "probe_emptied").asInstanceOf[JInt].num > 0)
    Seq("excise_s", "collapse_s", "lines_s", "index_build_s", "probe_s")
      .foreach(k => assert(rec \ k != JNothing, s"missing $k"))
    assert(read(out).keySet == Set("excise"))
  }

  test("the relational family times the 28 core queries: q01-q26 and the q12b/q17b twins") {
    val core = SparkEntry.queries.keys.filter(RelationalCoreBench.isCore)
      .map(_.takeWhile(_ != '_')).toSeq.sorted
    assert(core == ((1 to 26).map(i => f"q$i%02d") ++ Seq("q12b", "q17b")).sorted)
  }
}
