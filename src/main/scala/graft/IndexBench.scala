package graft

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.{dirBytes, medianOf, time}

/** Spot-bench for the persisted ANN index layouts at a volume where scan
  * bandwidth is measurable — the evidence behind two claims the sf0.1
  * suite is too small to show:
  *
  *  1. **int8 quantization is ~4× less index on disk** (the q59/q61
  *     story): byte arrays vs float arrays in the probed partitions.
  *  2. **Partition pruning beats full scans by ~nCells/nProbe**: a
  *     pruned probe reads only its probe directories, so widening
  *     nCells at constant corpus shrinks per-probe I/O.
  *
  * Corpus: `SPARK_GRAFT_VECS` (default 200k) deterministic 64-dim
  * vectors derived from md5 of the row id (seedless, reproducible).
  * Measures build once, then warm-median point probes and one batch
  * k-NN join per layout. The [[ScaleBench]] family `index`; recorded in
  * BASELINE.md.
  */
object IndexBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    import spark.implicits._
    val nVecs = BenchHarness.env("SPARK_GRAFT_VECS", "200000").toInt
    val dim = 64

    // deterministic corpus: component j of row i = centered md5 nibbles
    // (eps 0 in the shared recipe — the perturbation term vanishes)
    val base = ctx.tmp
    val sim = graft.ops.Similarity
    spark.range(nVecs.toLong)
      .select(col("id").as("vec_id"),
        expr(BenchHarness.md5VecSql("id", dim, "0.0d")).as("embedding"))
      .write.mode("overwrite").parquet(s"$base/corpus")
    val emb = spark.read.parquet(s"$base/corpus")
    val queryVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).as[Seq[Double]].head().toArray

    val (_, tBuildF) = time(sim.buildIvfIndex(
      emb, "vec_id", "embedding", s"$base/ivf", nCells = 64))
    val (_, tBuildQ) = time(sim.buildIvfIndexQuantized(
      emb, "vec_id", "embedding", s"$base/ivfq", nCells = 64))
    val floatBytes = dirBytes(s"$base/ivf/data")
    val quantBytes = dirBytes(s"$base/ivfq/data")

    val tPointF = medianOf(5)(sim.ivfIndexTopK(spark, s"$base/ivf",
      "vec_id", "embedding", queryVec, k = 10, nProbe = 4).collect())
    val tPointQ = medianOf(5)(sim.ivfIndexQuantizedTopK(spark, s"$base/ivfq",
      "vec_id", queryVec, k = 10, nProbe = 4).collect())

    // batch join: every 1000th vector probes (file-backed -> DPP)
    emb.filter(col("vec_id") % 1000 === 0)
      .write.mode("overwrite").parquet(s"$base/queries")
    val queries = spark.read.parquet(s"$base/queries")
    val tJoinF = medianOf(3)(sim.ivfIndexKnnJoin(spark, s"$base/ivf",
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 10,
      nProbe = 4).collect())
    val tJoinQ = medianOf(3)(sim.ivfIndexQuantizedKnnJoin(spark,
      s"$base/ivfq", "vec_id", queries, "vec_id", "embedding", k = 10,
      nProbe = 4).collect())

    // PQ rungs at the same volume: the measured form of the "~64×
    // narrower probe scan" claim. Flat PQ (codes only) and IVF-PQ
    // (cell-partitioned codes, the smallest-probe layout).
    val (_, tBuildP) = time(sim.buildPqIndex(
      emb, "vec_id", "embedding", s"$base/pq", m = 4, nCodes = 256))
    val (_, tBuildIP) = time(sim.buildIvfPqIndex(emb, "vec_id",
      "embedding", s"$base/ivfpq", nCells = 64, m = 4, nCodes = 256))
    val pqBytes = dirBytes(s"$base/pq/data")
    val ivfpqBytes = dirBytes(s"$base/ivfpq/data")
    val tPointP = medianOf(5)(sim.pqIndexTopK(
      spark, s"$base/pq", "vec_id", queryVec, k = 10).collect())
    val tPointIP = medianOf(5)(sim.ivfPqIndexTopK(
      spark, s"$base/ivfpq", "vec_id", queryVec, k = 10, nProbe = 4).collect())
    val tJoinP = medianOf(3)(sim.pqIndexKnnJoin(spark, s"$base/pq",
      "vec_id", queries, "vec_id", "embedding", k = 10).collect())
    val tJoinIP = medianOf(3)(sim.ivfPqIndexKnnJoin(spark, s"$base/ivfpq",
      "vec_id", queries, "vec_id", "embedding", k = 10, nProbe = 4).collect())
    val tRerank = medianOf(3)(sim.pqIndexKnnJoinRerank(
      spark, s"$base/pq", emb, "vec_id", "embedding", queries,
      "vec_id", "embedding", k = 10, kCand = 100).collect())

    // the SCALE RECIPE rung (BASELINE.md "recall at scale": residual
    // IVF-PQ, cells ≈ cluster count, real code budget — 0.999 recall on
    // planted structure): its cost side at the same volume
    val (_, tBuildR) = time(sim.buildIvfPqIndex(
      emb, "vec_id", "embedding", s"$base/ivfpq_res", nCells = 64,
      m = 16, nCodes = 256, kmeansIters = 3, residual = true))
    val resBytes = dirBytes(s"$base/ivfpq_res/data")
    val tPointR = medianOf(5)(sim.ivfPqIndexTopK(spark, s"$base/ivfpq_res",
      "vec_id", queryVec, k = 10, nProbe = 6).collect())
    val tJoinR = medianOf(3)(sim.ivfPqIndexKnnJoinRerank(
      spark, s"$base/ivfpq_res", emb, "vec_id", "embedding", queries,
      "vec_id", "embedding", k = 10, kCand = 100, nProbe = 6).collect())

    ("metric" -> "index_bench") ~ ("vecs" -> nVecs) ~ ("dim" -> dim) ~
      ("float_mb" -> floatBytes / 1e6) ~ ("int8_mb" -> quantBytes / 1e6) ~
      ("pq_mb" -> pqBytes / 1e6) ~ ("ivfpq_mb" -> ivfpqBytes / 1e6) ~
      ("ivfpq_res_recipe_mb" -> resBytes / 1e6) ~
      ("size_ratio" -> floatBytes.toDouble / quantBytes) ~
      ("pq_size_ratio" -> floatBytes.toDouble / pqBytes) ~
      ("build_s" -> (("float" -> tBuildF) ~ ("int8" -> tBuildQ) ~
        ("pq" -> tBuildP) ~ ("ivfpq" -> tBuildIP) ~
        ("ivfpq_res_recipe" -> tBuildR))) ~
      ("point_s" -> (("float" -> tPointF) ~ ("int8" -> tPointQ) ~
        ("pq" -> tPointP) ~ ("ivfpq" -> tPointIP) ~
        ("ivfpq_res_recipe" -> tPointR))) ~
      ("join_s" -> (("float" -> tJoinF) ~ ("int8" -> tJoinQ) ~
        ("pq" -> tJoinP) ~ ("ivfpq" -> tJoinIP) ~ ("pq_rerank" -> tRerank) ~
        ("ivfpq_res_recipe_rerank" -> tJoinR)))
  }
}
