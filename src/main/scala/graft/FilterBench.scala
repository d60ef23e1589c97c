package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

/** Spot-bench for the LEARNED-filter family at sf1-equivalent volume —
  * the [[PipelineBench]] recipe: the sf0.1 documents table replicated
  * `SPARK_GRAFT_REPL`× (default 15, ~750k docs) with salted doc-id
  * offsets, then each filter's full train+score path timed end-to-end
  * (noop sink; the fit is INSIDE the measured job — model counting is
  * part of the filter's cost story, and it is the part that grows with
  * the reference slice):
  *
  *  - `xent_s` — [[graft.ops.TextAnalysis.bigramLmScoreAgainst]]: fit
  *    on the `lang='en'` slice, score every replica;
  *  - `nb_s` — [[graft.ops.TextAnalysis.naiveBayesScore]]: provenance
  *    weak labels, fit + score in one plan;
  *  - `dsir_s` — [[graft.ops.Sampling.dsirLogWeights]] over the same
  *    target slice; `dsir_topk_s` adds the Gumbel top-(n_docs/100)
  *    selection;
  *  - `audit_s` — [[graft.ops.Analytics.scoreAudit]] over the NB
  *    scores at 3 thresholds (re-runs the NB plan: the gauge's real
  *    deployment cost on an unmaterialized score stream);
  *  - `fertility_s` / `card_s` — the two tokenizer audits under the
  *    built-in BPE.
  *
  * Also recorded: per-replica-decade growth for the cross-ppl scorer
  * (repl/3 vs repl volume) — the linearity check that the model-side
  * aggregates stay bounded while the scored stream scales. Every time
  * is the best of two runs. The [[ScaleBench]] family `filter`;
  * recorded in BASELINE.md.
  */
object FilterBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val repl = BenchHarness.env("SPARK_GRAFT_REPL", "15").toInt
    val ta = graft.ops.TextAnalysis

    val docs = BenchHarness.replicatedDocs(spark, ctx.sfDir, repl, ctx.cpus,
      salt = true, extraCols = Seq("source", "lang"))
    val nDocs = docs.count()

    def best(f: => DataFrame): Double = BenchHarness.minOf(2)(BenchHarness.runNoop(f))

    val tXent = best(ta.bigramLmScoreAgainst(
      docs.where(col("lang") === "en"), docs, "doc_id", "text"))
    val labeled = docs.withColumn("label",
      col("source").isin("src0", "src1", "src2").cast("int"))
    val tNb = best(ta.naiveBayesScore(labeled, "doc_id", "text", "label"))
    val tgt = col("source").isin("src0", "src1", "src2")
    val tDsir = best(graft.ops.Sampling.dsirLogWeights(
      docs, "doc_id", "text", tgt))
    val tDsirTop = best(graft.ops.Sampling.dsirResample(
      docs, "doc_id", "text", tgt, n = (nDocs / 100).toInt.max(1)))
    val tAudit = best(graft.ops.Analytics.scoreAudit(
      ta.naiveBayesScore(labeled, "doc_id", "text", "label")
        .join(labeled.select(col("doc_id"), col("label")), Seq("doc_id")),
      "log_odds", "label", Seq(-4.0, -2.7, -1.5)))
    val tFert = best(graft.ops.Packing.tokenizerFertility(
      docs, "text", "lang", graft.functions.TokenCounters.tinyBpe))
    val tCard = best(graft.ops.Packing.tokenizedCard(
      docs, "doc_id", "text", "source", 512,
      graft.functions.TokenCounters.tinyBpe))

    // linearity: the same cross-ppl job at 1/3 the replicas — the model
    // side is slice-bounded, so time should scale ~linearly in the
    // SCORED stream, not super-linearly in the corpus
    val docsSmall = BenchHarness.replicatedDocs(spark, ctx.sfDir,
      (repl / 3).max(1), ctx.cpus, salt = true,
      extraCols = Seq("source", "lang"))
    val tXentSmall = best(ta.bigramLmScoreAgainst(
      docsSmall.where(col("lang") === "en"), docsSmall, "doc_id", "text"))

    // selection QUALITY, not just time: what fraction of the Gumbel
    // top-n is actually target-provenance, vs the corpus base rate —
    // the lift a DSIR deployment buys on THIS corpus (the synthetic
    // fixture's sources share a generator, so the honest expectation is
    // mild lift, reported as measured)
    val nSel = 1000
    val sel = graft.ops.Sampling.dsirResample(
      docs, "doc_id", "text", tgt, n = nSel)
    val selTgt = sel.join(docs.select(col("doc_id"), tgt.as("_t")), Seq("doc_id"))
      .where(col("_t")).count()
    val baseRate = docs.where(tgt).count().toDouble / nDocs

    ("bench" -> "filter_sf1") ~ ("repl" -> repl) ~
      ("n_docs" -> nDocs) ~ ("xent_s" -> tXent) ~ ("nb_s" -> tNb) ~
      ("dsir_s" -> tDsir) ~ ("dsir_topk_s" -> tDsirTop) ~
      ("audit_s" -> tAudit) ~ ("fertility_s" -> tFert) ~
      ("card_s" -> tCard) ~
      ("xent_third_volume_s" -> tXentSmall) ~
      (s"dsir_top${nSel}_target_frac" -> selTgt.toDouble / nSel) ~
      ("target_base_rate" -> baseRate)
  }
}
