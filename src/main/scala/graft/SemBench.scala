package graft

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.time

/** Spot-bench for the semantic-dedup family (q80 semDedup / q84 semantic
  * contamination pairs / semanticGateSink) at sf1-equivalent volume —
  * the round-6 verdict's missing evidence: SemDeDup's within-cell scan
  * is quadratic in cell population BY DESIGN, so the claim that "nCells
  * sizing keeps it linear-ish" needs measured cell populations and a
  * timed nCells sweep, not an assertion; and the streaming gate's
  * per-batch cost (assignment + within-batch screen + pruned standing
  * probe + append) needs a throughput number.
  *
  * Corpus: `SPARK_GRAFT_VECS` (default 75000) deterministic 64-dim
  * md5-derived vectors (the [[IndexBench]] recipe), with every 20th row
  * a small perturbation of its predecessor — planted semantic dups that
  * land in the same cell and rank cosine ≈ 1, so the screens do real
  * work (an all-random corpus has no pairs above tau and the join's
  * match arm never fires).
  *
  * Measurements:
  *  1. **nCells sweep** (16 / 64 / 256 at fixed corpus): semDedup wall
  *     time + the max cell share from [[graft.ops.Similarity
  *     .ivfCellProfile]]. Within-cell pair work ∝ Σ cellPop² — if the
  *     sweep times don't fall roughly with 1/nCells (until scheduling
  *     overhead floors them), a hot cell is eating the budget and the
  *     share column says which.
  *  2. **Gate throughput**: standing index on the first half, then
  *     three streamed batches (`SPARK_GRAFT_BATCH`, default 2500 rows:
  *     half duplicates of standing rows, half novel) through
  *     [[graft.streaming.Streams.semanticGateSink]] — per-batch wall
  *     seconds and admitted counts (novel admitted, dups dropped).
  *
  * The [[ScaleBench]] family `sem`; recorded in BASELINE.md's semantic
  * section.
  */
object SemBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    import spark.implicits._
    val nVecs = BenchHarness.env("SPARK_GRAFT_VECS", "75000").toLong
    val batchRows = BenchHarness.env("SPARK_GRAFT_BATCH", "2500").toInt
    val dim = 64
    val tau = 0.6

    // deterministic corpus; every 20th row ≈ its predecessor (dup pair)
    val base = ctx.tmp
    val vecExpr = (idRef: String, eps: String) =>
      BenchHarness.md5VecSql(idRef, dim, eps)
    val corpus = spark.range(nVecs)
      .select(col("id").as("vec_id"),
        expr(s"""CASE WHEN id % 20 = 0 AND id > 0
                 THEN ${vecExpr("id - 1", "0.01d")}
                 ELSE ${vecExpr("id", "0.0d")} END""").as("embedding"))
      .repartition(ctx.cpus)
    corpus.write.mode("overwrite").parquet(s"$base/corpus")
    val emb = spark.read.parquet(s"$base/corpus")

    // ── 1. nCells sweep ──────────────────────────────────────────────
    val sweep = Seq(16, 64, 256).map { nCells =>
      val profile = graft.ops.Similarity
        .ivfCellProfile(emb, "vec_id", "embedding", nCells)
        .agg(max(col("share"))).collect()(0).getDouble(0)
      val ((nPairs, nDrop), t) = time {
        val d = graft.ops.Similarity
          .semDedup(emb, "vec_id", "embedding", nCells, tau)
        val drops = d.filter(col("keep") === 0).count()
        val pairs = graft.ops.Similarity
          .semPairs(emb, "vec_id", "embedding", nCells, tau).count()
        (pairs, drops)
      }
      (nCells, t, profile, nPairs, nDrop)
    }
    // planted dups must be found at every granularity
    sweep.foreach { case (c, _, _, pairs, drops) =>
      assert(drops >= nVecs / 20 * 9 / 10,
        s"nCells=$c found only $drops dups of ~${nVecs / 20} planted ($pairs pairs)")
    }

    // ── 2. gate throughput ───────────────────────────────────────────
    val standing = emb.filter(col("vec_id") < nVecs / 2)
    graft.ops.Similarity.buildIvfIndex(standing, "vec_id", "embedding",
      s"$base/gate", nCells = 64)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val gate = graft.streaming.Streams.semanticGateSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$base/gate", s"$base/gate_ck", tau)
    val batches = try (0 until 3).map { b =>
      // half dups of standing rows (same md5 recipe, id < nVecs/2),
      // half novel (ids beyond the corpus)
      val rows = spark.range(batchRows)
        .select(
          (col("id") + lit(10000000L * (b + 1))).as("vec_id"),
          expr(s"""CASE WHEN id % 2 = 0
                   THEN ${vecExpr(s"id % ${nVecs / 2}", "0.005d")}
                   ELSE ${vecExpr(s"id + ${10000000L * (b + 1)}", "0.0d")} END""")
            .as("embedding"))
        .as[(Long, Seq[Double])].collect()
      time { mem.addData(rows.toIndexedSeq); gate.processAllAvailable() }._2
    } finally gate.stop()
    val admitted = spark.read.parquet(s"$base/gate/data").count() - nVecs / 2
    // ~half of each batch is novel; dups must not be admitted
    assert(admitted <= 3L * batchRows * 6 / 10,
      s"gate admitted $admitted of ${3 * batchRows} — dups leaking through")

    ("bench" -> "semantic_sf1") ~ ("n_vecs" -> nVecs) ~ ("dim" -> dim) ~
      ("tau" -> tau) ~
      ("sweep" -> sweep.map { case (c, t, share, pairs, drops) =>
        ("n_cells" -> c) ~ ("s" -> t) ~ ("max_share" -> share) ~
          ("pairs" -> pairs) ~ ("drops" -> drops)
      }) ~
      ("gate_batch_rows" -> batchRows) ~ ("gate_batch_s" -> batches) ~
      ("gate_admitted" -> admitted)
  }
}
