package graft

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.{runNoop, time}

/** Spot-bench for the round-7 excision family (q88 cross-doc span
  * excision / q90 intra-doc collapsing / q91 incremental
  * excise-against-index) at sf1-equivalent volume — the
  * [[ClusterBench]] recipe: the sf0.1 documents table replicated
  * `SPARK_GRAFT_REPL`× (default 15) with doc-id offsets. Replica text
  * is identical, so every 8-word gram is shared by all replicas — the
  * WORST case for excision (every non-keeper doc is entirely
  * duplicated spans, so the position-explode volume approaches
  * w × corpus grams, and the rebuild rewrites every doc).
  *
  * Measurements: q88 end-to-end on the replicated corpus; gram-index
  * build on one replica slice + the incremental probe of a second
  * slice against it (the q91/sink path — every probe span matches, the
  * worst probe case); q90 at the same volume. The [[ScaleBench]] family
  * `excise`; recorded in BASELINE.md.
  */
object ExciseBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val repl = BenchHarness.env("SPARK_GRAFT_REPL", "15").toInt

    val base = Tables.load(spark, ctx.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docs = BenchHarness.replicatedDocs(spark, ctx.sfDir, repl, ctx.cpus,
      salt = false)
    val nDocs = docs.count()

    val tExcise = runNoop(graft.ops.Dedup.exciseDupSpans(docs, "doc_id", "text"))
    val tCollapse = runNoop(graft.ops.Dedup.collapseRepeats(docs, "doc_id", "text"))

    // line-granular removal (q97) at the same volume: replicas make
    // EVERY reflowed 3-word line corpus-frequent, so the ban set is the
    // entire distinct-line population and every doc rewrites to empty —
    // the op's worst case (max ban-set broadcast, max removal, full
    // rebuild). Survivor count is the in-bench correctness assert.
    val lined = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("_w"))
      .select(col("doc_id"),
        when(size(col("_w")) > 0,
          expr("concat_ws('\n', transform(" +
            "sequence(0, cast(ceil(size(_w) / 3.0) as int) - 1), " +
            "i -> concat_ws(' ', slice(_w, i*3+1, 3))))"))
          .otherwise(lit("")).as("lined"))
    val (nLineSurvivors, tLines) = time {
      graft.ops.Dedup.removeFrequentLines(lined, "doc_id", "lined",
          minDocFreq = 3)
        .filter(col("clean_text") =!= "").count()
    }
    assert(nLineSurvivors == 0,
      s"every line is shared by $repl replicas, all docs must empty: $nLineSurvivors survived")

    // incremental path: standing index = replica 0, probe = replica 1
    // (every probe span matches — the worst probe case)
    val idx = s"${ctx.tmp}/grams"
    val (_, tBuild) = time(graft.ops.Dedup.buildGramIndex(
      base, "text", idx, w = 8))
    val probe = base.select(
      (col("doc_id") + lit(BenchHarness.ReplicaStride)).as("doc_id"),
      col("text"))
    val (nEmpty, tProbe) = time {
      graft.ops.Dedup.exciseAgainstIndex(spark, probe, "doc_id", "text", idx)
        .filter(col("clean_text") === "").count()
    }
    // the fully-duplicated probe must excise (almost) everything: only
    // docs shorter than w survive with text
    val shortDocs = base.where(col("text").isNotNull)
      .where(size(expr("filter(split(text, ' '), x -> x <> '')")) < 8).count()
    val probed = probe.where(col("text").isNotNull).count()
    assert(nEmpty >= probed - shortDocs,
      s"full-dup probe should empty all long docs: $nEmpty of $probed (short=$shortDocs)")

    ("bench" -> "excise_sf1") ~ ("repl" -> repl) ~ ("n_docs" -> nDocs) ~
      ("excise_s" -> tExcise) ~ ("collapse_s" -> tCollapse) ~
      ("lines_s" -> tLines) ~
      ("index_build_s" -> tBuild) ~ ("probe_s" -> tProbe) ~
      ("probe_emptied" -> nEmpty)
  }
}
