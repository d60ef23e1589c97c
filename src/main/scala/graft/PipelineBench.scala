package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.{minOf, time}

/** End-to-end bench for the COMPOSED curation pipeline (q93 /
  * [[graft.ops.Curation.curate]]) at sf1-equivalent volume — the
  * [[ExciseBench]] recipe: the sf0.1 documents table replicated
  * `SPARK_GRAFT_REPL`× (default 15) with doc-id offsets, and the text
  * SALTED with a per-replica prefix token. The salt keeps the clean
  * stage honest (unsalted replicas are byte-identical, so the exact
  * screen would collapse the corpus to one replica before the pipeline
  * does any work; salted replicas are distinct docs whose INTERIOR
  * 8-word spans are still all cross-replica duplicates — the excision
  * worst case at full row count, while the boilerplate span screen
  * stays non-degenerate because the salted winnow fingerprints differ
  * near the prefix).
  *
  * Measured: standing key-index build (the %4==0 slice), the chained
  * clean → dedup → excise → decontaminate → sample → pack → order job
  * (one noop write), rows out, and the executed-plan exchange/scan
  * counts of the final stage chain. The [[ScaleBench]] family
  * `pipeline`; recorded in BASELINE.md.
  */
object PipelineBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val repl = BenchHarness.env("SPARK_GRAFT_REPL", "15").toInt

    val docs = BenchHarness.replicatedDocs(spark, ctx.sfDir, repl, ctx.cpus,
      salt = true, extraCols = Seq("source"))
    val nDocs = docs.count()

    // standing corpus: the %4==0 slice, persisted key index (stage-2
    // input — an index is a pipeline INPUT, so its build is timed apart)
    val keyDir = s"${ctx.tmp}/keys"
    val (_, tBuild) = time(graft.ops.Dedup.buildExactKeyIndex(
      docs.filter(col("doc_id") % 4 === 0), "text", keyDir))

    // per-source budgets scaled to the replicated corpus (~half of each
    // source's observed tokens, so the sampler has real work both ways)
    val budgets = graft.queries.Extensions.tokenBudgets
      .map { case (s, b) => s -> b * repl / 2 }

    val batch = docs.filter(col("doc_id") % 4 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def cfgFor(strategy: String) = graft.ops.Curation.Config(
      budgets = budgets, materialize = strategy)

    def runOnce(cfg: graft.ops.Curation.Config): (DataFrame, Double) = time {
      val result = graft.ops.Curation.curate(spark, batch,
        "doc_id", "text", "source",
        keyIndexPath = Some(keyDir), benchmark = Some(bench), cfg = cfg)
      result.write.format("noop").mode("overwrite").save()
      result
    }
    val (out, tPipe) = runOnce(cfgFor("local"))
    val nOut = out.count()
    val plan = out.queryExecution.executedPlan.toString
    val nExchange = "(?i)exchange".r.findAllIn(plan).length
    val nScan = "Scan ".r.findAllIn(plan).length

    // stage-boundary materialization A/B (the round-11 q93 WATCH:
    // checkpoint I/O dominates the non-gram stages) — the same pipeline
    // under each Curation.materialize strategy, 2 runs each, best-of
    // (one warm run above already paged the corpus in). Lazy persists
    // are dropped between arms so no arm reads another's blocks.
    val ab = for (strategy <- Seq("local", "disk", "memdisk", "none"))
      yield strategy -> minOf(2) {
        val t = runOnce(cfgFor(strategy))._2
        spark.catalog.clearCache()
        t
      }

    // per-source cap rung: the quality rank between decontamination and
    // sampling — its marginal cost over the uncapped run, with a cap
    // sized to genuinely cut (~half of each source's survivors)
    val capN = math.max(1, (nOut / 40).toInt)
    val (capOut, tCap) =
      runOnce(cfgFor("local").copy(capPerSource = Some(capN)))
    val nCap = capOut.count()

    // curateTo: the write-terminal form that realizes the lazy-memdisk
    // win end-to-end AND unpersists behind itself — both the time and
    // the cache-residue claim are measured (cachedAfter must be 0)
    val tTo = minOf(2)(time(graft.ops.Curation.curateTo(spark, batch,
      "doc_id", "text", "source",
      keyIndexPath = Some(keyDir), benchmark = Some(bench),
      cfg = cfgFor("memdisk"), outPath = s"${ctx.tmp}/out/curated"))._2)
    val cachedAfter = spark.sharedState.cacheManager.isEmpty

    ("bench" -> "pipeline_sf1") ~ ("repl" -> repl) ~ ("n_docs" -> nDocs) ~
      ("key_index_build_s" -> tBuild) ~ ("pipeline_s" -> tPipe) ~
      ("rows_out" -> nOut) ~ ("final_stage_exchanges" -> nExchange) ~
      ("final_stage_scans" -> nScan) ~ ("materialize_ab" -> ListMap(ab: _*)) ~
      ("cap_per_source" -> capN) ~ ("cap_pipeline_s" -> tCap) ~
      ("rows_out_capped" -> nCap) ~
      ("curate_to_memdisk_s" -> tTo) ~
      ("cache_empty_after_curate_to" -> cachedAfter)
  }
}
