package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.time

/** Measured precision/recall surface for the lexical near-dup family —
  * the [[AnnRecallBench]] discipline (truth op + audit op + sweep +
  * asserted defaults) applied to MinHash-LSH: a user tuning q28's
  * (k, bands, threshold, w) for a real corpus reads THIS table instead
  * of trusting the 1 − (1 − j^r)^b banding formula on faith.
  *
  * Fixture: base documents from the sf dir (docs with ≥ 24 whitespace
  * words, capped at `SPARK_GRAFT_DEDUP_DOCS`, default 600) plus SIX
  * planted variants per doc — every p-th word replaced by a salt token
  * for p ∈ {2, 4, 8, 16, 32, 100}. A w-shingle survives iff it spans no
  * replaced word (≈ (1−1/p)^w of them), so the plant ladder covers the
  * whole Jaccard range: p=2 ≈ 0.06 up to p=100 ≈ 0.94 at w=3. Natural
  * near-dup pairs in the base corpus stay in the truth set — the audit
  * measures the screen, whatever the pairs' provenance.
  *
  * Truth: [[graft.ops.Dedup.ngramJaccard]] at threshold 0.05 (wide —
  * the surface should show the LOW bands missing, not hide them), once
  * per shingle width. Audited screens (candidate stage only, pre-
  * verify): (k, bands) ∈ (4,4) r=1 · (8,2) r=4 · (8,4) r=2 [shipped
  * default] · (16,4) r=4 · (16,8) r=2 at w=3, plus the default config
  * at w=2 (the shingle-width arm: shorter shingles raise pairwise J —
  * same docs, easier screen). Per config: the per-band
  * [[graft.ops.Dedup.dedupRecall]] curve and the
  * [[graft.ops.Dedup.dedupScreenSummary]] operating point against
  * truth ≥ 0.5 (q28's shipped threshold).
  *
  * Assertions (a regression FAILS the bench, the AnnRecallBench
  * contract): the shipped default (w=3, k=8, bands=4) must hold recall
  * ≥ 0.95 on the j ≥ 0.8 bands and ≥ 0.60 against truth ≥ 0.5; more
  * bands at the SAME rows-per-band must not lose recall — (16,8) ≥
  * (8,4) − eps at r=2 and (16,4) ≥ (8,2) − eps at r=4 (comparing
  * different r at the same band count is NOT monotone and is not
  * asserted); the r=1 screen (4,4) must dominate the default's recall
  * on j ≥ 0.5 AND pay for it in candidate volume (the precision
  * trade); the containment blind spot must reproduce (< 0.5 recall on
  * j < 0.3 bands of containment≈1 pairs, ≥ 0.9 on j ≥ 0.8).
  *
  * The [[ScaleBench]] family `dedup_recall`: the full table plus the
  * default's headline numbers, recorded in BASELINE.md.
  */
object DedupRecallBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val cpus = ctx.cpus
    val dedup = graft.ops.Dedup
    val nBase = BenchHarness.env("SPARK_GRAFT_DEDUP_DOCS", "600").toInt

    val perturbs = Seq(2, 4, 8, 16, 32, 100)
    val base = Tables.load(spark, ctx.sfDir, "documents")
      .where(col("text").isNotNull &&
        expr("size(filter(split(text, ' '), x -> x <> ''))") >= 24)
      .orderBy(col("doc_id")).limit(nBase)
      .select(col("doc_id"), col("text"))
    val corpus = perturbs.map { p =>
        base.select(
          (col("doc_id") + lit(p.toLong * BenchHarness.ReplicaStride))
            .as("doc_id"),
          expr(s"""concat_ws(' ', transform(filter(split(text, ' '),
                  |  x -> x <> ''), (x, i) ->
                  |  CASE WHEN i % $p = 0 THEN 'zz$p' ELSE x END))"""
            .stripMargin).as("text"))
      }.foldLeft(base)(_ unionByName _)
      .repartition(cpus).localCheckpoint(true)
    val nDocs = corpus.count()

    case class Arm(w: Int, k: Int, bands: Int)
    val arms = Seq(Arm(3, 4, 4), Arm(3, 8, 2), Arm(3, 8, 4), Arm(3, 16, 4),
      Arm(3, 16, 8), Arm(2, 8, 4))

    // one truth + one shingle-set pass per width, shared across arms;
    // the truth op is the audit's quadratic-by-contract part, so its
    // cost and pair count are recorded separately (the number that
    // sizes the audit slice at corpus scale)
    val byW = arms.map(_.w).distinct.map { w =>
      val sets = dedup.shingleSets(corpus, "doc_id", "text", w)
        .localCheckpoint(true)
      val ((truth, nPairs), truthS) = time {
        val t = dedup.ngramJaccard(corpus, "doc_id", "text",
          w = w, threshold = 0.05).localCheckpoint(true)
        (t, t.count())
      }
      w -> ((sets, truth, truthS, nPairs))
    }.toMap
    // (band, n_truth, n_hit, recall) rows of a dedupRecall audit
    def curveOf(audit: DataFrame): Seq[(Long, Long, Long, Double)] =
      audit.orderBy(col("band")).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSeq

    case class Res(arm: Arm, curve: Seq[(Long, Long, Long, Double)],
                   sum: (Long, Long, Long, Double, Double), secs: Double)
    val results = arms.map { a =>
      val (sets, truth, _, _) = byW(a.w)
      val ((curve, s), secs) = time {
        val cand = dedup.lshCandidates(
          dedup.minHashSignatures(sets, a.k), a.k, a.bands)
          .localCheckpoint(true)
        (curveOf(dedup.dedupRecall(truth, cand)), dedup.dedupScreenSummary(
          truth.where(col("jaccard") >= 0.5), cand).collect().head)
      }
      Res(a, curve,
        (s.getLong(0), s.getLong(1), s.getLong(2), s.getDouble(3),
          s.getDouble(4)), secs)
    }

    def recallAtOrAbove(r: Res, band: Long): Double = {
      val rows = r.curve.filter(_._1 >= band)
      val (t, h) = (rows.map(_._2).sum, rows.map(_._3).sum)
      if (t == 0) 1.0 else h.toDouble / t
    }
    def armRes(w: Int, k: Int, b: Int): Res =
      results.find(r => r.arm == Arm(w, k, b))
        .getOrElse(sys.error(s"missing arm w=$w k=$k bands=$b"))

    // ---- the containment BLIND SPOT, measured (q142's story) ----
    // Plant prefix slices: doc (id + stride·p) = the first ~frac of a
    // base doc's words, so containment(slice ⊂ base) ≈ 1 while jaccard
    // ≈ frac. Truth = near-total-containment pairs CARRYING their
    // jaccard; the audit bands by jaccard — if the screen tracks the
    // jaccard S-curve on pairs whose containment is 1, minhash banding
    // is measurably blind to containment, and short-in-long dups must
    // route to the gram-excision path instead of the pair screen.
    val fracs = Seq(15, 30, 50, 70, 90)
    val contCorpus = fracs.map { f =>
        base.select(
          (col("doc_id") + lit((1000 + f).toLong * BenchHarness.ReplicaStride))
            .as("doc_id"),
          expr(s"""concat_ws(' ', slice(filter(split(text, ' '),
                  |  x -> x <> ''), 1, greatest(3, cast(ceil(
                  |  size(filter(split(text, ' '), x -> x <> '')) * $f
                  |  / 100.0) as int))))""".stripMargin).as("text"))
      }.foldLeft(base)(_ unionByName _)
      .repartition(cpus).localCheckpoint(true)
    val setsC = dedup.shingleSets(contCorpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val contTruth = dedup.containmentFromSets(setsC, threshold = 0.9)
      .join(dedup.ngramJaccardFromSets(setsC, threshold = 0.0),
        Seq("d1", "d2"))
      .select(col("d1"), col("d2"), col("jaccard"))
    val candC = dedup.lshCandidates(
      dedup.minHashSignatures(setsC, 8), 8, 4)
    val contCurve = curveOf(dedup.dedupRecall(contTruth, candC))

    // the shipped-default gate — regressions fail the bench.
    // Directions follow the banding math: at fixed r, more bands only
    // ADD collision chances (monotone up); r=1 collides near-always
    // (recall ~1 at every band, precision collapses — asserted as the
    // trade, not a defect).
    val dflt = armRes(3, 8, 4)
    val dHi = recallAtOrAbove(dflt, 8L)
    require(dHi >= 0.95,
      f"default (w=3,k=8,bands=4): recall $dHi%.3f < 0.95 on j >= 0.8 bands")
    require(dflt.sum._5 >= 0.60,
      f"default: recall ${dflt.sum._5}%.3f < 0.60 against truth >= 0.5")
    val eps = 0.02
    require(recallAtOrAbove(armRes(3, 16, 8), 5L) >=
        recallAtOrAbove(dflt, 5L) - eps,
      "more bands at the same rows/band must not lose recall (16,8 vs 8,4)")
    require(recallAtOrAbove(armRes(3, 16, 4), 5L) >=
        recallAtOrAbove(armRes(3, 8, 2), 5L) - eps,
      "more bands at the same rows/band must not lose recall (16,4 vs 8,2)")
    val r44 = armRes(3, 4, 4)
    require(recallAtOrAbove(r44, 5L) >= recallAtOrAbove(dflt, 5L) - eps,
      "r=1 screens collide near-always: recall must dominate the default")
    require(r44.sum._2 > dflt.sum._2,
      "r=1 must pay for that recall in candidate volume (precision trade)")
    // the blind spot is REAL and the screen tracks jaccard only: low-j
    // bands of containment≈1 pairs must mostly miss, high-j must hit
    def contAt(lo: Long, hi: Long): Double = {
      val rows = contCurve.filter(c => c._1 >= lo && c._1 <= hi)
      val (t, h) = (rows.map(_._2).sum, rows.map(_._3).sum)
      if (t == 0) -1.0 else h.toDouble / t
    }
    val blindLo = contAt(0L, 2L)
    require(blindLo >= 0 && blindLo < 0.5,
      f"containment blind spot should reproduce: recall $blindLo%.3f on " +
        "j<0.3 bands of containment~1 pairs (expected mostly missed)")
    val blindHi = contAt(8L, 9L)
    require(blindHi >= 0.9,
      f"high-jaccard containment pairs must still hit: $blindHi%.3f")

    def curveJson(band: String, c: Seq[(Long, Long, Long, Double)]) =
      c.map { case (b, t, h, rec) =>
        (band -> b) ~ ("n_truth" -> t) ~ ("n_hit" -> h) ~ ("recall" -> rec)
      }
    val armJson = results.map { r =>
      val (st, sc, shh, p, rec) = r.sum
      ("w" -> r.arm.w) ~ ("k" -> r.arm.k) ~ ("bands" -> r.arm.bands) ~
        ("rows_per_band" -> r.arm.k / r.arm.bands) ~ ("secs" -> r.secs) ~
        ("curve" -> curveJson("band", r.curve)) ~
        ("at_threshold_0.5" -> (("n_truth" -> st) ~ ("n_cand" -> sc) ~
          ("n_hit" -> shh) ~ ("precision" -> p) ~ ("recall" -> rec)))
    }
    ("bench" -> "dedup_recall") ~ ("n_base" -> nBase) ~ ("n_docs" -> nDocs) ~
      ("perturbs" -> perturbs) ~
      ("truth" -> byW.toSeq.sortBy(_._1).map { case (w, (_, _, s, n)) =>
        ("w" -> w) ~ ("secs" -> s) ~ ("n_pairs" -> n)
      }) ~
      ("containment_blind_spot" -> curveJson("j_band", contCurve)) ~
      ("arms" -> armJson) ~
      ("default_recall_j_ge_0.8" -> dHi) ~
      ("default_recall_thr_0.5" -> dflt.sum._5) ~
      ("default_precision_thr_0.5" -> dflt.sum._4)
  }
}
