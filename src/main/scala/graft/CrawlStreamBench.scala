package graft

import java.nio.file.{Files, Paths}

import org.json4s.JsonDSL._

import BenchHarness.Crawl

/** Spot-bench for the STREAMING crawl terminals ([[graft.streaming
  * .Streams.warcIngestSink]] intake rung, [[graft.streaming.Streams
  * .crawlTokensSink]] tokens terminal, ± the pre-decode digest rung) —
  * the [[BenchHarness.streamProtocol]] applied to the
  * [[BenchHarness.Crawl]] 10× shard set: the sf-dir documents table replicated (salted — pages
  * unique at the exact rung, interior spans cross-replica duplicated,
  * the excision worst case), rendered once into a POOL of `.warc.gz`
  * shards, then dropped into each arm's landing directory one shard per
  * micro-batch, exactly how a crawl lands in production.
  *
  * Per arm (fresh landing/checkpoint/output/indexes; the key index is
  * an EMPTY-SEED build with the `expectedKeys` capacity hint — the
  * first-ingest deployment shape):
  *
  *  - per-batch wall seconds and steady-state pages/s — the capacity
  *    number, since each batch pays the same screen structure
  *    regardless of what the standing corpus has grown to;
  *  - KILL-AND-RESUME at the halfway shard: the query is stopped, the
  *    shard lands, a fresh sink resumes from the checkpoint —
  *    `resume_s` is recovery + that batch;
  *  - REPLAY-ADDS-0: the final shard's content lands AGAIN under a new
  *    file name — every page is a byte-identical re-fetch, the
  *    cross-batch text screen (and digest rung when armed) must admit
  *    nothing. Asserted in-bench, recorded as `replay_s` /
  *    `replay_added`.
  *
  * The [[ScaleBench]] family `crawl_stream`, recorded in BASELINE.md's
  * streaming section.
  */
object CrawlStreamBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    import spark.implicits._
    val repl = BenchHarness.env("SPARK_GRAFT_CRAWL_REPL", "10").toInt
    val nShards = BenchHarness.env("SPARK_GRAFT_CRAWL_SHARDS", "16").toInt
    val base = ctx.tmp

    // render the salted crawl ONCE into a shard pool
    val pool = s"$base/pool"
    val nDocs = Crawl.writeShards(spark, ctx.sfDir, ctx.cpus, pool, repl,
      nShards)
    val shardFiles = new java.io.File(pool).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)

    def land(dst: String, f: java.io.File, as: String = ""): Unit =
      Files.copy(f.toPath, Paths.get(dst, if (as.isEmpty) f.getName else as))

    /** One arm: every pool shard is a batch through `start`; the replay
      * lands the last shard's CONTENT again as a new file —
      * byte-identical re-fetches the standing screens must not admit.
      */
    def runArm(tag: String, start: (String, String, String) =>
                 org.apache.spark.sql.streaming.StreamingQuery)
        : (String, ScaleBench.Record) = {
      val (landing, out, ckpt) =
        (s"$base/$tag/landing", s"$base/$tag/out", s"$base/$tag/ckpt")
      Files.createDirectories(Paths.get(landing))
      val r = BenchHarness.streamProtocol[java.io.File](shardFiles.toSeq,
        () => start(landing, out, ckpt), land(landing, _),
        () => land(landing, shardFiles.last, as = "replay-of-last.warc.gz"),
        () => spark.read.parquet(out).count(), s"$tag: replayed shard")
      val totalS = r.batchS.sum
      tag -> (("total_s" -> totalS) ~ ("pages_per_s" -> nDocs / totalS) ~
        ("out_rows" -> r.outRows) ~ r.fields)
    }

    // the empty-seed key/digest layouts, sized with the capacity hint,
    // built ONCE per arm before it starts (a rebuild at the resume
    // would wipe what the first half admitted)
    def freshKeys(tag: String): String = {
      val p = s"$base/$tag/keys"
      graft.ops.Dedup.buildExactKeyIndex(
        Seq.empty[(Long, String)].toDF("doc_id", "norm_text"),
        "norm_text", p, expectedKeys = nDocs)
      p
    }
    def freshDigests(tag: String): String = {
      val p = s"$base/$tag/digests"
      graft.ops.Dedup.buildKeyIndex(
        Seq.empty[String].toDF("payload_digest"), "payload_digest", p,
        expectedKeys = nDocs)
      p
    }

    val intakeKeys = freshKeys("intake")
    val intakeArm = runArm("intake", (landing, out, ckpt) =>
      graft.streaming.Streams.warcIngestSink(spark, landing, out,
        intakeKeys, ckpt, Crawl.th))
    val tokensKeys = freshKeys("tokens")
    val tokensArm = runArm("tokens", (landing, out, ckpt) =>
      graft.streaming.Streams.crawlTokensSink(spark, landing, out,
        tokensKeys, ckpt, Crawl.enc, Crawl.cfg, Crawl.th))
    val digestKeys = freshKeys("tokens_digest")
    val digests = freshDigests("tokens_digest_dg")
    val tokensDigestArm = runArm("tokens_digest", (landing, out, ckpt) =>
      graft.streaming.Streams.crawlTokensSink(spark, landing, out,
        digestKeys, ckpt, Crawl.enc, Crawl.cfg, Crawl.th,
        digestIndexPath = Some(digests)))

    ("metric" -> "crawl_stream") ~ ("repl" -> repl) ~
      ("shards" -> shardFiles.length) ~ ("pages" -> nDocs) ~
      intakeArm ~ tokensArm ~ tokensDigestArm
  }
}
