package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.time

/** Spot-bench for the clustering family (q41 components / q42 star
  * contraction / q53 representatives) at sf1-equivalent volume — the
  * sizes where the ≥1M-pair DISTRIBUTED path actually runs, which the
  * per-round sf0.1 bench never reaches (its pair graphs solve on the
  * driver via the `LocalCcThreshold` fast path).
  *
  * Two measurements:
  *
  *  1. **sf1-equivalent corpus**: the sf0.1 documents table replicated
  *     `SPARK_GRAFT_REPL`× (default 15) with doc-id offsets. Replica text
  *     is identical, so every replica group is a true duplicate cluster
  *     and every original near-dup pair multiplies into repl² cross-
  *     replica pairs — the heavy-duplication shape a crawl corpus has.
  *     Times the full q41/q42/q53 pipeline on it, forcing the
  *     distributed paths (`localThreshold = 0`) and, when the graph fits,
  *     the local path too — label-identical by assertion.
  *
  *  2. **Threshold handoff**: synthetic chain graphs bracketing
  *     `LocalCcThreshold` (0.9M and 1.2M edges). The adaptive entry point
  *     picks local below, distributed above; both sides are timed so a
  *     scale cliff at the boundary would be visible in the artifact.
  *
  * The [[ScaleBench]] family `cluster`; recorded in BASELINE.md's sf1
  * section.
  */
object ClusterBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val repl = BenchHarness.env("SPARK_GRAFT_REPL", "15").toInt

    // ── 1. sf1-equivalent corpus ─────────────────────────────────────
    val docs = BenchHarness.replicatedDocs(spark, ctx.sfDir, repl, ctx.cpus,
      salt = false)
    val nDocs = docs.count()

    val (pairs, tPairs) = time {
      graft.ops.Dedup.minHashLsh(docs, "doc_id", "text",
          w = 3, k = 8, bands = 4, threshold = 0.5)
        .select(col("d1"), col("d2"))
        .localCheckpoint(true)
    }
    val nPairs = pairs.count()

    // a component labelling, checkpointed and counted inside the timer
    def labels(cc: => DataFrame): (DataFrame, Double) =
      time { val r = cc.localCheckpoint(true); r.count(); r }
    val (ccDist, tCcDist) =
      labels(graft.ops.Dedup.components(pairs, localThreshold = 0))
    val (ccStar, tCcStar) =
      labels(graft.ops.Dedup.componentsStar(pairs, localThreshold = 0))
    // label agreement between the two distributed formulations — and,
    // when the graph is inside the local threshold, with the driver path
    def labelSet(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distLabels = labelSet(ccDist)
    assert(distLabels == labelSet(ccStar),
      "components() and componentsStar() must agree on the sf1 graph")
    val tCcLocal = if (nPairs <= graft.ops.Dedup.LocalCcThreshold) {
      val (ccLoc, t) = labels(
        graft.ops.Dedup.components(pairs, localThreshold = Long.MaxValue))
      assert(labelSet(ccLoc) == distLabels,
        "local union-find must match the distributed labels")
      t
    } else -1.0

    val (_, tKeep) = time {
      val quality = graft.ops.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      graft.ops.Dedup.representatives(ccStar, quality, "quality")
        .write.format("noop").mode("overwrite").save()
    }

    // ── 2. threshold handoff on synthetic chain graphs ───────────────
    // chains of 10 nodes: edge (id, id+1) except at chain boundaries —
    // 0.9 edges per range row, so range(n) yields 0.9n edges
    def chainGraph(targetEdges: Long): DataFrame =
      spark.range((targetEdges / 0.9).toLong)
        .where(pmod(col("id"), lit(10)) =!= 9)
        .select(col("id").as("d1"), (col("id") + 1).as("d2"))
        .localCheckpoint(true)

    val below = chainGraph((graft.ops.Dedup.LocalCcThreshold * 0.9).toLong)
    val above = chainGraph((graft.ops.Dedup.LocalCcThreshold * 1.2).toLong)
    val big = chainGraph((graft.ops.Dedup.LocalCcThreshold * 2.5).toLong)
    val nBelow = below.count()
    val nAbove = above.count()
    val nBig = big.count()
    assert(nBelow <= graft.ops.Dedup.LocalCcThreshold
      && nAbove > graft.ops.Dedup.LocalCcThreshold)
    // components() runs its rounds eagerly: the timer must enclose it
    def cc(pairs: DataFrame, threshold: Long): Double =
      time {
        graft.ops.Dedup.components(pairs, localThreshold = threshold)
          .write.format("noop").mode("overwrite").save()
      }._2
    // the adaptive choice at the boundary: LOCAL below the threshold —
    // and forced-distributed at the SAME size shows what that choice
    // saves (the distributed rounds' fixed job-scheduling cost)
    val tBelowLocal = cc(below, Long.MaxValue)
    val tBelowDist = cc(below, 0)
    // …DISTRIBUTED above it, where a driver collect would grow without
    // bound; the 2.5× point shows the distributed curve is scheduling-
    // dominated (near-flat), so the step at the boundary is a constant
    // that amortizes, not a scaling pathology
    val tAbove = cc(above, 0)
    val tBig = cc(big, 0)

    ("bench" -> "cluster_sf1") ~ ("repl" -> repl) ~ ("n_docs" -> nDocs) ~
      ("n_pairs" -> nPairs) ~ ("pairs_s" -> tPairs) ~ ("cc_dist_s" -> tCcDist) ~
      ("cc_star_s" -> tCcStar) ~ ("cc_local_s" -> tCcLocal) ~
      ("keep_s" -> tKeep) ~ ("handoff_edges" -> Seq(nBelow, nAbove, nBig)) ~
      ("handoff_local_s" -> Seq(tBelowLocal, -1.0, -1.0)) ~
      ("handoff_dist_s" -> Seq(tBelowDist, tAbove, tBig))
  }
}
