package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.{medianOf, time}
import ScaleBench.{Ctx, Record}

/** The ANN recall-vs-cost surface (round-11 verdict item 2): every rung
  * of the approximate-retrieval ladder — IVF float, IVF int8, LSH float,
  * LSH int8, flat PQ, IVF-PQ — scored by [[graft.ops.Similarity
  * .annRecall]] against the exact [[graft.ops.Similarity.bruteKnnJoin]]
  * top-10 on ONE fixture, across the parameters a deployment actually
  * tunes (nProbe, nBits/multiProbe, m, nCodes, kmeansIters). q102 gave a
  * single recall point; this records the curve that point sits on.
  *
  * **Fixture: planted structure, not the sf random vectors.** The
  * driver's `embeddings.parquet` is uniform random (measured: intra- and
  * inter-label cosine both ≈ 0.000) — the WORST case for every
  * clustering-based ANN structure, because true neighbours are only
  * infinitesimally closer than the bulk and cells/buckets cannot
  * concentrate them. Real embedding corpora are the opposite: locally
  * clustered. So the sweep runs on a deterministic planted corpus built
  * from the [[BenchHarness.md5VecSql]] recipe — the BASE vector is keyed
  * on the row's CLUSTER id (id % nClusters: the cluster's shared
  * center) and the eps term on the raw id (per-row noise), giving
  * nClusters clean clusters with intra-cluster cosine ≈ 1/(1+eps²) and
  * inter ≈ 0 — and records the random-fixture numbers alongside as the
  * labelled worst-case contrast rows.
  *
  * Cost columns are analytic from the layouts (the quantity a 100 TB
  * deployment budgets): probed fraction of the corpus (IVF nProbe/nCells,
  * LSH probed-buckets/2^nBits, flat = 1) × per-row payload bytes (float
  * dim·8, int8 dim+8, PQ m·4). Latency is a warm median of the full
  * k-NN-join collect at this (tiny) scale — plan-shape overhead, not
  * bandwidth; the bytes column is the number that scales.
  *
  * Two [[ScaleBench]] families: `ann_recall` (the full ladder on the
  * 2k planted corpus plus the random contrast rows) and `ann_scale`
  * (the decision-carrying arms at 200k). Each prints one row per config
  * and ASSERTS the recommended defaults BASELINE.md summarizes, so a
  * regression fails the family rather than silently shifting the table.
  */
object AnnRecallBench {

  private val dim = 64
  private val nClusters = 50
  private val eps = "0.15d"
  private val k = 10
  private val nCells = 16
  private val sim = graft.ops.Similarity

  /** One corpus of `nVecs` rows (embedding SQL `vecSql`), its 1% query
    * slice and their exact top-k — ONE exact pass reused by every
    * config — plus the rows recorded against it.
    */
  private final class Fixture(ctx: Ctx, name: String, nVecs: Int,
                              vecSql: String) {
    private val spark = ctx.spark
    import spark.implicits._
    private val dir = s"${ctx.tmp}/${name.replace('@', '_')}"
    spark.range(nVecs.toLong)
      .select(col("id").as("vec_id"), expr(vecSql).as("embedding"))
      .write.mode("overwrite").parquet(dir)
    val corpus: DataFrame = spark.read.parquet(dir)
    val queries: DataFrame =
      corpus.filter(col("vec_id") % (nVecs / 100).max(1) === 0)
    private val nQ = queries.count()
    private val truth = sim.bruteKnnJoin(corpus, queries,
      "vec_id", "embedding", "vec_id", "embedding", k).localCheckpoint(true)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Record]
    private val means = scala.collection.mutable.Map.empty[String, Double]

    def idx(layout: String): String = s"${dir}_idx/$layout"

    /** Build index layout `layout` with `f(path)`; its path and seconds. */
    def build(layout: String)(f: String => Any): (String, Double) =
      (idx(layout), time(f(idx(layout)))._2)

    // the k-NN joins more than one arm measures
    def ivf(path: String, nProbe: Int) = () => sim.ivfIndexKnnJoin(spark,
      path, "vec_id", "embedding", queries, "vec_id", "embedding", k, nProbe)
    def ivfInt8(path: String, nProbe: Int) = () =>
      sim.ivfIndexQuantizedKnnJoin(spark, path, "vec_id", queries,
        "vec_id", "embedding", k, nProbe)
    def pqRerank(path: String, kCand: Int) = () => sim.pqIndexKnnJoinRerank(
      spark, path, corpus, "vec_id", "embedding", queries, "vec_id",
      "embedding", k, kCand)
    def ivfPqRerank(path: String, kCand: Int, nProbe: Int) = () =>
      sim.ivfPqIndexKnnJoinRerank(spark, path, corpus, "vec_id",
        "embedding", queries, "vec_id", "embedding", k, kCand, nProbe)

    /** Time `join` (warm median of `runs`), score it against the truth,
      * print and keep the row. Cost: `frac` of the corpus at `rowBytes`
      * per row, plus `kCand` float rows per query (a rerank's reads).
      */
    def record(family: String, storage: String, params: String,
               buildS: Double, frac: Double, rowBytes: Int,
               join: () => DataFrame, kCand: Int = 0, runs: Int = 3): Unit = {
      val tQ = medianOf(runs)(join().collect())
      val recalls = sim.annRecall(join(), truth, "vec_id")
        .select(col("recall")).as[Double].collect()
      require(recalls.length == nQ, s"$family $params: missing queries")
      val (mean, min) = (recalls.sum / recalls.length, recalls.min)
      val kb = nVecs * frac * rowBytes / 1024.0 + kCand * dim * 8 / 1024.0
      println(f"$family%-7s $storage%-6s $name%-13s $params%-28s " +
        f"build $buildS%6.2fs  q $tQ%6.3fs  recall $mean%5.3f (min $min%5.3f)  " +
        f"probed $frac%5.3f  $kb%8.1f KB/q")
      means(s"$family/$storage/$params") = mean
      rows += ("family" -> family) ~ ("storage" -> storage) ~
        ("fixture" -> name) ~ ("params" -> params) ~ ("build_s" -> buildS) ~
        ("query_s" -> tQ) ~ ("recall_mean" -> mean) ~ ("recall_min" -> min) ~
        ("probed_frac" -> frac) ~ ("probed_kb_per_query" -> kb)
    }

    def recall(family: String, storage: String, params: String): Double =
      means.getOrElse(s"$family/$storage/$params",
        sys.error(s"missing $name config $family/$storage/$params"))
  }

  private def planted(ctx: Ctx, name: String, nVecs: Int): Fixture =
    new Fixture(ctx, name, nVecs,
      BenchHarness.md5VecSql(s"(id % $nClusters)", dim, eps))

  /** `ann_recall`: the whole ladder on the planted corpus, the IVF rows
    * on the random one, and the recommended-default asserts.
    */
  def recall(ctx: Ctx): Record = {
    val spark = ctx.spark
    val nVecs = BenchHarness.env("SPARK_GRAFT_VECS", "2000").toInt // sf0.1 scale
    val fx = planted(ctx, "planted", nVecs)
    val (corpus, queries) = (fx.corpus, fx.queries)
    import fx.{build, record}

    // ----- IVF: float + int8, kmeansIters ∈ {0, 3}, nProbe swept -----
    for (ki <- Seq(0, 3)) {
      val (fp, bF) = build(s"ivf_ki$ki")(sim.buildIvfIndex(
        corpus, "vec_id", "embedding", _, nCells, kmeansIters = ki))
      val (qp, bQ) = build(s"ivfq_ki$ki")(sim.buildIvfIndexQuantized(
        corpus, "vec_id", "embedding", _, nCells, kmeansIters = ki))
      for (nProbe <- Seq(1, 2, 3, 4, 6, 8)) {
        record("ivf", "float", s"nCells=$nCells nProbe=$nProbe ki=$ki",
          bF, nProbe.toDouble / nCells, dim * 8, fx.ivf(fp, nProbe))
        record("ivf", "int8", s"nCells=$nCells nProbe=$nProbe ki=$ki",
          bQ, nProbe.toDouble / nCells, dim + 8, fx.ivfInt8(qp, nProbe))
      }
    }

    // ----- LSH: float (nBits × multiProbe), int8 at the default -----
    for (nBits <- Seq(6, 8)) {
      val (lp, bL) = build(s"lsh_b$nBits")(sim.buildLshIndex(
        corpus, "vec_id", "embedding", _, dim, nBits))
      for (multi <- Seq(true, false)) {
        val frac = (if (multi) nBits + 1 else 1).toDouble / (1 << nBits)
        record("lsh", "float", s"nBits=$nBits multiProbe=$multi",
          bL, frac, dim * 8,
          () => sim.lshIndexKnnJoin(spark, lp, "vec_id", "embedding",
            queries, "vec_id", "embedding", k, dim, nBits, multi))
      }
    }
    val (lqp, bLq) = build("lshq_b8")(sim.buildLshIndexQuantized(
      corpus, "vec_id", "embedding", _, dim, nBits = 8))
    record("lsh", "int8", "nBits=8 multiProbe=true", bLq, 9.0 / 256, dim + 8,
      () => sim.lshIndexQuantizedKnnJoin(spark, lqp,
        "vec_id", queries, "vec_id", "embedding", k, dim, nBits = 8))

    // ----- random projection: brute rank in projected space — the
    // pure rank-preservation of the md5 matrix at each width (the
    // probe-byte lever BEFORE any index; composes with all of them)
    for (outDim <- Seq(8, 16, 32)) {
      def proj(df: DataFrame) = df.select(col("vec_id"),
        graft.functions.VectorFunctions.randomProject(
          col("embedding").cast("array<double>"), dim, outDim)
          .as("embedding"))
      val pc = proj(corpus).localCheckpoint(true)
      val pqs = proj(queries).localCheckpoint(true)
      record("proj", "float", s"outDim=$outDim brute", 0.0, 1.0, outDim * 8,
        () => sim.bruteKnnJoin(pc, pqs,
          "vec_id", "embedding", "vec_id", "embedding", k))
      // projected ranks PROPOSE kCand, full-precision floats decide —
      // the two-stage recipe as the first-class operator (q132); cost =
      // the projected scan + kCand float rows per query
      val kCand = 50
      record("proj", "rerank", s"outDim=$outDim kCand=$kCand",
        0.0, 1.0, outDim * 8,
        () => sim.projKnnJoinRerank(corpus, queries,
          "vec_id", "embedding", "vec_id", "embedding",
          k, dim, outDim, kCand), kCand = kCand)
    }

    // ----- flat PQ: m × nCodes × kmeansIters -----
    for (m <- Seq(2, 4, 8); nCodes <- Seq(16, 256); ki <- Seq(0, 3)) {
      val (pp, bP) = build(s"pq_m${m}_c${nCodes}_ki$ki")(sim.buildPqIndex(
        corpus, "vec_id", "embedding", _, m, nCodes, kmeansIters = ki))
      record("pq", "codes", s"m=$m nCodes=$nCodes ki=$ki", bP, 1.0, m * 4,
        () => sim.pqIndexKnnJoin(spark, pp,
          "vec_id", queries, "vec_id", "embedding", k))
    }

    // ----- PQ + exact rerank: the two-stage retrieval the flat-PQ
    // rows above prescribe — codes propose kCand, floats re-rank.
    // Cost = the full code scan + kCand float rows per query.
    for (kCand <- Seq(50, 100)) {
      val pp = fx.idx("pq_m4_c16_ki0") // built in the loop above
      record("pq", "rerank", s"m=4 nCodes=16 kCand=$kCand", 0.0, 1.0, 4 * 4,
        fx.pqRerank(pp, kCand), kCand = kCand)
    }

    // ----- IVF-PQ: nCodes × kmeansIters × {raw, residual} encoding,
    // nProbe swept, m = 4. Residual is the classic recall fix at
    // IDENTICAL bytes — same cells, same code width, the codes just
    // describe v − centroid[cell] instead of v.
    for (nCodes <- Seq(16, 256); ki <- Seq(0, 3); res <- Seq(false, true)) {
      val tag = if (res) "res" else "raw"
      val (ip, bI) = build(s"ivfpq_c${nCodes}_ki${ki}_$tag")(sim.buildIvfPqIndex(
        corpus, "vec_id", "embedding", _, nCells, m = 4, nCodes,
        kmeansIters = ki, residual = res))
      for (nProbe <- Seq(1, 3, 8))
        record("ivfpq", if (res) "res" else "codes",
          s"nCells=$nCells m=4 nCodes=$nCodes nProbe=$nProbe ki=$ki",
          bI, nProbe.toDouble / nCells, 4 * 4,
          () => sim.ivfPqIndexKnnJoin(spark, ip,
            "vec_id", queries, "vec_id", "embedding", k, nProbe))
    }

    // ----- IVF-PQ + exact rerank: the composed best case per probed
    // byte — cells cut the scan, codes cut the row width, the float
    // read is kCand rows per query.
    for (nProbe <- Seq(1, 3)) {
      val ip = fx.idx("ivfpq_c16_ki0_raw") // built in the loop above
      record("ivfpq", "rerank", s"nCells=$nCells m=4 nCodes=16 nProbe=$nProbe kCand=100",
        0.0, nProbe.toDouble / nCells, 4 * 4,
        fx.ivfPqRerank(ip, 100, nProbe), kCand = 100)
    }

    // worst-case contrast: the same recipe keyed on the raw id = uniform
    // random, no structure to exploit (what the sf fixture is). The full
    // ladder would repeat q102's lesson 50×; the IVF rows alone show it
    val rnd = new Fixture(ctx, "random", nVecs,
      BenchHarness.md5VecSql("id", dim, "0.0d"))
    for (ki <- Seq(0, 3)) {
      val (fp, bF) = rnd.build(s"ivf_ki$ki")(sim.buildIvfIndex(
        rnd.corpus, "vec_id", "embedding", _, nCells, kmeansIters = ki))
      for (nProbe <- Seq(3, 8))
        rnd.record("ivf", "float", s"nCells=$nCells nProbe=$nProbe ki=$ki",
          bF, nProbe.toDouble / nCells, dim * 8, rnd.ivf(fp, nProbe))
    }

    // ---- recommended-default assertions: a regression here must FAIL the
    // bench, not silently shift the recorded table ----
    val ivfDefault = fx.recall("ivf", "float", s"nCells=$nCells nProbe=3 ki=0")
    require(ivfDefault >= 0.90,
      f"IVF float default (nProbe=3, ki=0) recall $ivfDefault%.3f < 0.90 on planted structure")
    val int8Default = fx.recall("ivf", "int8", s"nCells=$nCells nProbe=3 ki=0")
    require(math.abs(int8Default - ivfDefault) <= 0.05,
      f"int8 must track float at the default config: $int8Default%.3f vs $ivfDefault%.3f")
    val rerank = fx.recall("pq", "rerank", "m=4 nCodes=16 kCand=100")
    require(rerank >= 0.95,
      f"PQ+rerank (kCand=100) recall $rerank%.3f < 0.95 on planted structure " +
        "- the two-stage contract")
    // kmeansIters default adjudication: the measured gap between ki=0 and
    // ki=3 across the IVF nProbe sweep decides whether 0 stays the default
    val kiGap = Seq(1, 2, 3, 4, 6, 8).map { p =>
      fx.recall("ivf", "float", s"nCells=$nCells nProbe=$p ki=3") -
        fx.recall("ivf", "float", s"nCells=$nCells nProbe=$p ki=0")
    }
    println(f"kmeansIters adjudication: mean recall gain of ki=3 over ki=0 " +
      f"across the IVF sweep = ${kiGap.sum / kiGap.size}%+.3f " +
      f"(max ${kiGap.max}%+.3f)")

    ("metric" -> "ann_recall_surface") ~ ("n_vecs" -> nVecs) ~ ("dim" -> dim) ~
      ("n_clusters" -> nClusters) ~ ("eps" -> eps) ~ ("k" -> k) ~
      ("configs" -> (fx.rows ++ rnd.rows))
  }

  /** `ann_scale`: the headline arms at IndexBench scale (round-12 verdict
    * #6). The 2k planted corpus is generous for nCells=16, so the
    * recommended defaults are re-validated at 200k × 64 (50 clusters of
    * 4k) and ASSERTED there too. Only the decision-carrying arms run —
    * the full ladder's shape questions are answered by `ann_recall`.
    */
  def scale(ctx: Ctx): Record = {
    val scaleVecs = BenchHarness.env("SPARK_GRAFT_ANN_SCALE_VECS", "200000").toInt
    val fx = planted(ctx, "planted@scale", scaleVecs)
    val corpus = fx.corpus
    import fx.{build, record}
    val kWide = (scaleVecs / nClusters) * 2

    val (fp, bF) = build("ivf")(sim.buildIvfIndex(
      corpus, "vec_id", "embedding", _, nCells, kmeansIters = 0))
    for (nProbe <- Seq(1, 3, 8))
      record("ivf", "float", s"nCells=$nCells nProbe=$nProbe ki=0",
        bF, nProbe.toDouble / nCells, dim * 8, fx.ivf(fp, nProbe))
    val (qp, bQ) = build("ivf_q8")(sim.buildIvfIndexQuantized(
      corpus, "vec_id", "embedding", _, nCells, kmeansIters = 0))
    record("ivf", "int8", s"nCells=$nCells nProbe=3 ki=0",
      bQ, 3.0 / nCells, dim + 8, fx.ivfInt8(qp, 3))

    // PQ+rerank, tiny codebook: the 2k fixture's recall-1.0 number
    // does NOT transfer — at 200k each planted cluster holds 4k rows,
    // a 16-codeword budget can only IDENTIFY the cluster, and the
    // id-tie-broken kCand=100 cut misses the true top-k almost
    // surely (measured 0.039). Recorded as the labelled collapse row;
    // the fixes are measured right below.
    val (pp, bP) = build("pq")(sim.buildPqIndex(
      corpus, "vec_id", "embedding", _, m = 4, nCodes = 16, kmeansIters = 0))
    record("pq", "rerank", "m=4 nCodes=16 kCand=100",
      bP, 1.0, 4 * 4, fx.pqRerank(pp, 100), kCand = 100)
    val (ip, bI) = build("ivfpq")(sim.buildIvfPqIndex(
      corpus, "vec_id", "embedding", _, nCells, m = 4, nCodes = 16,
      kmeansIters = 0))
    record("ivfpq", "rerank", s"nCells=$nCells m=4 nCodes=16 nProbe=3 kCand=100",
      bI, 3.0 / nCells, 4 * 4, fx.ivfPqRerank(ip, 100, 3), kCand = 100)

    // fix 1: widen kCand past the PQ score's tie multiplicity (here
    // the 4k cluster) — the proposer only needs to CONTAIN the top-k.
    // Measured 0.996, but the wide TopKAgg cut is itself expensive
    // (~4 min at kCand=8000 × 100 queries) — a finding, not a default;
    // one timing sample suffices
    record("pq", "rerank", s"m=4 nCodes=16 kCand=$kWide",
      0.0, 1.0, 4 * 4, fx.pqRerank(pp, kWide), kCand = kWide, runs = 1)

    // fix 2 candidates: spend codes instead of candidates. The global
    // codebook at nCodes=256+ki=3 helps (0.039 → 0.233, then 0.330 and
    // 0.523 at m=8/16) but its codewords chase cluster CENTERS, not
    // within-cluster noise — residual encoding (codes describe
    // v − centroid[cell]) is the textbook answer measured after it
    for (m <- Seq(4, 8, 16)) {
      val (pm, b) = build(s"pq_m${m}c256")(sim.buildPqIndex(
        corpus, "vec_id", "embedding", _, m = m, nCodes = 256, kmeansIters = 3))
      record("pq", "rerank", s"m=$m nCodes=256 ki=3 kCand=100",
        b, 1.0, m * 4, fx.pqRerank(pm, 100), kCand = 100)
    }
    val (rp64, bR64) = build("ivfpq_res64")(sim.buildIvfPqIndex(
      corpus, "vec_id", "embedding", _, nCells = 64, m = 8,
      nCodes = 256, kmeansIters = 3, residual = true))
    record("ivfpq", "res+rerank",
      "nCells=64 m=8 nCodes=256 ki=3 nProbe=6 kCand=100",
      bR64, 6.0 / 64, 8 * 4, fx.ivfPqRerank(rp64, 100, 6), kCand = 100)
    // the asserted scale-recipe arm builds through the SHIPPED preset
    // (buildIvfPqIndexScale) so the gate pins the one constructor a
    // 100 TB user actually calls
    val (rpb, bRb) = build("ivfpq_res64_m16")(sim.buildIvfPqIndexScale(
      corpus, "vec_id", "embedding", _, nCells = 64))
    record("ivfpq", "res+rerank",
      "nCells=64 m=16 nCodes=256 ki=3 nProbe=6 kCand=100",
      bRb, 6.0 / 64, 16 * 4, fx.ivfPqRerank(rpb, 100, 6), kCand = 100)
    record("ivfpq", "res+rerank",
      "nCells=64 m=8 nCodes=256 ki=3 nProbe=6 kCand=400",
      0.0, 6.0 / 64, 8 * 4, fx.ivfPqRerank(rp64, 400, 6), kCand = 400)
    val (rp, bR) = build("ivfpq_res256")(sim.buildIvfPqIndex(
      corpus, "vec_id", "embedding", _, nCells, m = 4, nCodes = 256,
      kmeansIters = 3, residual = true))
    record("ivfpq", "res+rerank",
      s"nCells=$nCells m=4 nCodes=256 ki=3 nProbe=3 kCand=100",
      bR, 3.0 / nCells, 4 * 4, fx.ivfPqRerank(rp, 100, 3), kCand = 100)

    // what must HOLD at this scale — including the collapse being
    // real (if it vanished, the guidance above would be stale)
    val sIvf = fx.recall("ivf", "float", s"nCells=$nCells nProbe=3 ki=0")
    require(sIvf >= 0.90,
      f"scale: IVF float default recall $sIvf%.3f < 0.90 at $scaleVecs vectors")
    val sInt8 = fx.recall("ivf", "int8", s"nCells=$nCells nProbe=3 ki=0")
    require(math.abs(sInt8 - sIvf) <= 0.05,
      f"scale: int8 must track float: $sInt8%.3f vs $sIvf%.3f")
    require(fx.recall("pq", "rerank", "m=4 nCodes=16 kCand=100") < 0.5,
      "scale: the tiny-codebook rerank collapse should reproduce — if " +
        "it stopped reproducing, re-adjudicate the kCand guidance")
    val sWide = fx.recall("pq", "rerank", s"m=4 nCodes=16 kCand=$kWide")
    require(sWide >= 0.95,
      f"scale: rerank with kCand past the tie multiplicity $sWide%.3f < 0.95")
    // the scale-correct recipe: residual IVF-PQ with cells ≈ cluster
    // count and a real code budget — measured 0.999 at kCand=100,
    // 9.4% probed, 8× compression
    val sRes = fx.recall("ivfpq", "res+rerank",
      "nCells=64 m=16 nCodes=256 ki=3 nProbe=6 kCand=100")
    require(sRes >= 0.95,
      f"scale: residual IVF-PQ at the scale recipe $sRes%.3f < 0.95")

    ("metric" -> "ann_recall_surface") ~ ("scale_vecs" -> scaleVecs) ~
      ("dim" -> dim) ~ ("n_clusters" -> nClusters) ~ ("eps" -> eps) ~
      ("k" -> k) ~ ("configs" -> fx.rows)
  }
}
