package graft

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.Crawl

/** sf1 spot-bench for the CRAWL family (q153/q155/q157 shapes) — the
  * BASELINE.md family-spot-bench protocol applied to the round-17/18
  * crawl terminals: the sf0.1 documents table replicated 10× (salted
  * text, so pages stay unique and dedup keeps its real shape), rendered
  * into 8 `.warc.gz` shards per scale (the [[BenchHarness.Crawl]]
  * fixture), and the SAME composed pipelines the suite declares run at
  * 1× and 10×:
  *
  *   - `scan`   (q153 shape): WarcReader.responses scan + charset
  *     decode + count;
  *   - `curate` (q155 shape): responses → Web.intake → source join →
  *     Curation.curate (None/None, per-domain budgets);
  *   - `tokens` (q157 shape): the same chain ending at
  *     Curation.curateTokens (tinyBpe ids, packed sequences).
  *
  * The flag this bench exists to raise: a SUPERLINEAR scaler anywhere
  * in the crawl chain (a pair term, an unpruned index scan, a
  * partition count frozen at the small scale). Linear-ish ratios
  * (≤10× wall for 10× data; sublinear where fixed per-job overhead
  * amortizes) mean the composed terminals inherit the per-operator
  * scale contracts. The [[ScaleBench]] family `crawl_scale`, recorded
  * in BASELINE.md.
  */
object CrawlScaleBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val repl = BenchHarness.env("SPARK_GRAFT_CRAWL_REPL", "10").toInt

    def pages(dir: String) = graft.sources.WarcReader.responses(spark, dir)
      .select(col("record_id").as("doc_id"),
        graft.ops.Web.urlDomain(col("url")).as("source"), col("html"))

    def scan(dir: String): Long =
      graft.sources.WarcReader.responses(spark, dir)
        .where(col("html").isNotNull).count()

    def withSource(dir: String) = {
      val p = pages(dir)
      graft.ops.Web.intake(p, "doc_id", "html", Crawl.th)
        .join(p.select("doc_id", "source"), Seq("doc_id"))
    }

    def curate(dir: String): Long =
      graft.ops.Curation.curate(spark, withSource(dir), "doc_id",
        "norm_text", "source", keyIndexPath = None, benchmark = None,
        Crawl.cfg).count()

    def tokens(dir: String): Long =
      graft.ops.Curation.curateTokens(spark, withSource(dir), "doc_id",
        "norm_text", "source", keyIndexPath = None, benchmark = None,
        Crawl.cfg, Crawl.enc).count()

    val arms = Seq("1x" -> 1, s"${repl}x" -> repl).map { case (tag, r) =>
      val dir = s"${ctx.tmp}/$tag"
      val nDocs = Crawl.writeShards(spark, ctx.sfDir, ctx.cpus, dir, r, 8)
      // warm-up scan (JIT + page cache), then one timed run per stage —
      // the RelationalCoreBench protocol
      scan(dir)
      val (nScan, tScan) = BenchHarness.time(scan(dir))
      val (nCur, tCur) = BenchHarness.time(curate(dir))
      val (nTok, tTok) = BenchHarness.time(tokens(dir))
      require(nScan == nDocs, s"$tag: $nScan of $nDocs pages scanned")
      (nDocs, tScan, nCur, tCur, nTok, tTok)
    }
    val (n1, s1, c1n, c1, t1n, t1) = arms(0)
    val (n2, s2, c2n, c2, t2n, t2) = arms(1)
    ("metric" -> "crawl_scale") ~ ("repl" -> repl) ~
      ("docs_1x" -> n1) ~ ("docs_big" -> n2) ~
      ("scan_1x_s" -> s1) ~ ("scan_big_s" -> s2) ~ ("scan_ratio" -> s2 / s1) ~
      ("curate_1x_s" -> c1) ~ ("curate_big_s" -> c2) ~
      ("curate_ratio" -> c2 / c1) ~
      ("curate_rows_1x" -> c1n) ~ ("curate_rows_big" -> c2n) ~
      ("tokens_1x_s" -> t1) ~ ("tokens_big_s" -> t2) ~
      ("tokens_ratio" -> t2 / t1) ~
      ("tokens_rows_1x" -> t1n) ~ ("tokens_rows_big" -> t2n)
  }
}
