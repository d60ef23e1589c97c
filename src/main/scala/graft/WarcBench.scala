package graft

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.{dirBytes, medianOf, time}

/** Spot-bench for the WARC source at a volume where the fixture suite
  * (500 records at sf0.1) cannot show anything — the evidence behind
  * the reader's two scale claims:
  *
  *  1. **Streaming per-file reads**: records parse off a bounded buffer
  *     (binaryFiles/PortableDataStream), so throughput is flat in file
  *     size and driver/executor memory does not scale with it — a
  *     1 GB .warc.gz behaves like ten 100 MB ones, minus parallelism.
  *  2. **The file is the parallelism unit**: N files → N tasks; at a
  *     real crawl's thousands-of-files shape, read bandwidth scales
  *     with cores until I/O saturates. Measured here as the 1-file vs
  *     8-file wall-clock on the same record population.
  *
  * Corpus: `SPARK_GRAFT_WARC_RECORDS` (default 100k) synthetic response
  * records (~1.5 KB html each, deterministic from the record index,
  * entity + charset mass included so decode is real work), written as
  * one `.warc.gz` and as 8 shards. Measures warm medians of the full
  * scan-decode-count (responses → html non-null count — forces parse +
  * charset + materialization). The [[ScaleBench]] family `warc`;
  * recorded in BASELINE.md.
  */
object WarcBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val n = BenchHarness.env("SPARK_GRAFT_WARC_RECORDS", "100000").toInt

    val base = ctx.tmp
    def html(i: Int): String = {
      val para = s"record $i the quick brown fox jumped over the lazy " +
        s"dog caf&eacute; r&#8217;s &mdash; block ${i % 97} " +
        ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
          "eiusmod tempor incididunt ut labore et dolore magna aliqua ") * 3
      s"<html><head><title>doc $i</title></head><body><h1>D$i</h1>" +
        s"<p>$para</p><ul><li>alpha $i</li><li>beta</li></ul></body></html>"
    }
    // record i carrying record `content`'s html in its charset
    def response(i: Int, content: Int, urn: String): Array[Byte] =
      graft.sources.WarcWriter.responseRecord(
        s"https://bench.example/doc/$i", "2026-01-02T03:04:05Z", urn,
        html(content), Seq("utf-8", "iso-8859-1", "windows-1252")(content % 3),
        declareInHeader = true)
    def record(i: Int): Array[Byte] = response(i, i, s"<urn:bench:$i>")
    // a record whose content is its group-of-3 LEADER's — byte-identical
    // re-fetches at the 3× rate for the digest arm
    def record3dup(i: Int): Array[Byte] =
      response(i, i - i % 3, f"<urn:bench:$i%09d>")
    def mediaBody(i: Int): Array[Byte] = {
      val b = new Array[Byte](1500)
      var j = 0
      while (j < b.length) { b(j) = ((i * 31 + j * 7) & 0xFF).toByte; j += 1 }
      b(0) = 0x89.toByte; b(1) = 0x50; b(2) = 0x4E; b(3) = 0x47
      b
    }
    def write8shards(dir: String, rec: Int => Array[Byte]): Unit =
      (0 until 8).foreach { s =>
        graft.sources.WarcWriter.write(spark, s"$dir/crawl-$s.warc.gz",
          (s until n by 8).iterator.map(rec))
      }
    // one big member-per-record gz + 8 shards of the same population
    val (_, tWrite1) = time(graft.sources.WarcWriter.write(spark,
      s"$base/one/crawl.warc.gz", (0 until n).iterator.map(record)))
    val (_, tWrite8) = time(write8shards(s"$base/eight", record))
    val gzBytes = dirBytes(s"$base/one")

    def scan(path: String): Long = graft.sources.WarcReader
      .responses(spark, path)
      .where(col("html").isNotNull).count()
    // correctness anchor: both layouts yield every record
    require(scan(s"$base/one") == n && scan(s"$base/eight") == n)
    val t1 = medianOf(3)(scan(s"$base/one"))
    val t8 = medianOf(3)(scan(s"$base/eight"))

    // ── digest-dedup arm: 3× re-fetch rate (every record's content is
    // its group-of-3 leader's — byte-identical bytes, same digest).
    // responses() decodes all n; responsesDeduped() decodes n/3 — the
    // delta is the transcode work the pre-decode digest rung skips.
    write8shards(s"$base/dup", i => record3dup(i))
    def scanDeduped(path: String): Long = graft.sources.WarcReader
      .responsesDeduped(spark, path)
      .where(col("html").isNotNull).count()
    val nGroups = scanDeduped(s"$base/dup")
    require(nGroups == (n + 2) / 3, s"$nGroups groups")
    require(scan(s"$base/dup") == n)
    val tDupAll = medianOf(3)(scan(s"$base/dup"))
    val tDupDd = medianOf(3)(scanDeduped(s"$base/dup"))
    // the rung's real position is BEFORE the intake chain (gopher gate,
    // normalize, md5 dedup shuffle) — measure both terminals there:
    // decode-everything intake vs digest-dedup-then-intake
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    def intakePlain(path: String): Long = graft.ops.Web.intake(
      graft.sources.WarcReader.responses(spark, path),
      "record_id", "html", th).count()
    def intakeDigest(path: String): Long = graft.ops.Web.intake(
      graft.sources.WarcReader.responsesDeduped(spark, path),
      "record_id", "html", th).count()
    require(intakePlain(s"$base/dup") == intakeDigest(s"$base/dup"))
    val tDupIntakePlain = medianOf(3)(intakePlain(s"$base/dup"))
    val tDupIntakeDd = medianOf(3)(intakeDigest(s"$base/dup"))

    // ── mixed-media arm: every other record is a ~1.5 KB binary
    // (image content type). The text-ish gate drops media pre-decode;
    // the decode-all arm transcodes the garbage too.
    write8shards(s"$base/mixed", i =>
      if (i % 2 == 0) record(i)
      else graft.sources.WarcWriter.mediaResponseRecord(
        s"https://bench.example/img/$i", "2026-01-02T03:04:05Z",
        s"<urn:img:$i>", "image/png", mediaBody(i)))
    require(scan(s"$base/mixed") == (n + 1) / 2)
    def scanAll(path: String): Long = graft.sources.WarcReader
      .responses(graft.sources.WarcReader.read(spark, path),
        decodeContentTypes = Nil)
      .where(col("html").isNotNull).count()
    require(scanAll(s"$base/mixed") == n)
    val tMixGate = medianOf(3)(scan(s"$base/mixed"))
    val tMixAll = medianOf(3)(scanAll(s"$base/mixed"))

    ("metric" -> "warc_scan") ~ ("records" -> n) ~ ("gz_bytes" -> gzBytes) ~
      ("write_1f_s" -> tWrite1) ~ ("write_8f_s" -> tWrite8) ~
      ("scan_1file_s" -> t1) ~ ("scan_8file_s" -> t8) ~
      ("recs_per_s_1f" -> n / t1) ~ ("recs_per_s_8f" -> n / t8) ~
      ("speedup_8f" -> t1 / t8) ~
      ("dup3x_decode_all_s" -> tDupAll) ~
      ("dup3x_digest_dedup_s" -> tDupDd) ~
      ("dup3x_dedup_speedup" -> tDupAll / tDupDd) ~
      ("dup3x_intake_plain_s" -> tDupIntakePlain) ~
      ("dup3x_intake_digest_s" -> tDupIntakeDd) ~
      ("dup3x_intake_speedup" -> tDupIntakePlain / tDupIntakeDd) ~
      ("mixed_gate_s" -> tMixGate) ~
      ("mixed_decode_all_s" -> tMixAll) ~
      ("mixed_gate_speedup" -> tMixAll / tMixGate)
  }
}
