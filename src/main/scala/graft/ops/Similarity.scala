package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity operators over an `array<float>` embedding column.
  *
  * Everything is expressed with higher-order Column functions
  * (`zip_with`/`aggregate`/`transform`) so the dot products run inside
  * whole-stage codegen — no UDF, no serialization wall. Computation is in
  * double for cross-engine (DuckDB oracle) agreement.
  *
  * Scale notes: brute-force top-k broadcasts the single query vector and
  * is one scan + one TakeOrdered — the right baseline even at 100 TB.
  * Near-dup pair mining is banded LSH with per-bucket caps
  * ([[nearDupPairs]]) — every join an equi-join; the O(n²) all-pairs form
  * ([[topPairs]]) is kept only as the small-data exactness anchor.
  */
object Similarity {

  /** Sequential left-fold dot product, as one fused codegen loop (custom
    * Catalyst expression, graft.functions.DotProduct) — same operation
    * order as the oracle's list_inner_product, so doubles agree
    * bit-for-bit, but ~10× cheaper than the `aggregate(zip_with(...))`
    * composition inside O(n²) joins.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] that yields 0 instead of dividing by a zero norm —
    * for SCREENING joins, where "cosine undefined" must mean "not a
    * match", not a query-killing DIVIDE_BY_ZERO (Spark 4 runs ANSI mode
    * by default, so 0.0/0.0 throws rather than producing NaN). Matches
    * the DuckDB-oracle THRESHOLD semantics, where 0/0 is NULL and
    * NULL ≥ tau is not satisfied. The branch keeps zero-norm rows out
    * of every pair WITHOUT dropping them from the output side.
    *
    * Ranking caveat (deliberate): a 0-ranked zero-norm row never
    * displaces a positive match, but a top-k deep enough to reach
    * non-positive similarities surfaces it ahead of negative-cosine
    * rows (where the oracle's NULL would sort last). The 0 form is
    * kept because the bounded [[graft.functions.TopKAgg]] rank buffers
    * primitive doubles — a NULL rank would need nullable buffers in
    * the hot aggregation path for a row the embedding-card audit
    * ([[embeddingCard]]) exists to surface and purge upstream.
    */
  def cosineGuarded(a: Column, b: Column): Column =
    cosineWithNorms(a, b, norm(a), norm(b))

  /** [[cosineGuarded]] with the two norms PRECOMPUTED as columns — the
    * pair-scan form ([[topPairs]]' idiom, applied family-wide): inside a
    * cross join / bucket join / cell join the same vector participates
    * in MANY pairs, and a norm is a per-ROW quantity — evaluating it per
    * PAIR triples the rank arithmetic (dot(a,b) + dot(a,a) + dot(b,b)
    * where one fused dot suffices). Bit-identical to [[cosineGuarded]]:
    * the precomputed value is the same `sqrt(dot(v,v))` double (IEEE
    * doubles survive shuffle/broadcast exactly), and the guard, operand
    * order and division are unchanged.
    */
  def cosineWithNorms(a: Column, b: Column, an: Column, bn: Column): Column = {
    val d = an * bn
    when(d > 0.0d, dot(a, b) / d).otherwise(lit(0.0d))
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Brute-force cosine top-k against one query vector (by id).
    * Broadcast the 1-row query side; `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject — per-partition heap + driver merge, no global
    * sort shuffle.
    */
  def bruteForceTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, scale: Int = 6): DataFrame = {
    val e = emb.select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .withColumn("_vn", norm(col("_v")))
    val q = e.filter(col(idCol) === queryId)
      .select(col("_v").as("_qv"), col("_vn").as("_qn"))
    e.crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force cosine top-k over int8-QUANTIZED vectors — the
    * bandwidth-bound scan path: at 100 TB of embeddings the rank cost is
    * the bytes read, and int8 reads (and stores) 4× less than float.
    * Quantization (codegen'd [[graft.functions.VectorFunctions
    * .quantizeInt8]]) is symmetric per vector, and cosine is scale-free,
    * so ranking the q arrays directly needs no dequantization — exact
    * ranks survive to quantization precision (~1/254 per element).
    * Deterministic floor(+0.5) rounding keeps the DuckDB oracle
    * bit-identical (q59). Same TakeOrderedAndProject shape as
    * [[bruteForceTopK]], which remains the full-precision anchor.
    */
  def quantizedTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, scale: Int = 6): DataFrame = {
    val e = emb.select(col(idCol),
      graft.functions.VectorFunctions.quantizeInt8(asDouble(col(vecCol)))
        .getField("q")
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
        .as("_q8"))
      .withColumn("_q8n", norm(col("_q8")))
    val q = e.filter(col(idCol) === queryId)
      .select(col("_q8").as("_qq"), col("_q8n").as("_qqn"))
    e.crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosineWithNorms(col("_q8"), col("_qq"), col("_q8n"), col("_qqn")),
          scale).as("qcos_sim"))
      .orderBy(col("qcos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Top-k most-similar pairs across the corpus (embedding near-dup
    * detection). All-pairs — O(n²/2) — correct as the exactness anchor;
    * at scale run it per LSH bucket instead (see [[lshBuckets]]).
    */
  def topPairs(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, scale: Int = 4): DataFrame = {
    val e = emb.select(col(idCol).as("_id"), asDouble(col(vecCol)).as("_v"),
      norm(asDouble(col(vecCol))).as("_n"))
    val a = e.select(col("_id").as("d1"), col("_v").as("v1"), col("_n").as("n1"))
    val b = e.select(col("_id").as("d2"), col("_v").as("v2"), col("_n").as("n2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round(when(col("n1") * col("n2") > 0.0d,
            dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          .otherwise(lit(0.0d)), scale).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("d1"), col("d2"))
      .limit(k)
  }

  /** Random-hyperplane LSH bucket (sign bits of `nBits` fixed pseudo
    * hyperplanes, as a '0'/'1' string). Plane components are deterministic
    * md5-derived values — reproducible across runs and engines, no RNG
    * state on executors. Backed by the codegen'd `RandomHyperplanes`
    * expression, so plan size is O(1) in dim and nBits (round 1 inlined
    * O(dim × nBits) literals, which blew up codegen at real embedding
    * dims). `band` selects an independent plane family for banded LSH.
    */
  def lshBucket(vec: Column, dim: Int, nBits: Int, band: Int = 0): Column =
    graft.functions.VectorFunctions.lshBucket(vec, dim, nBits, band)

  /** Assign every vector an LSH bucket; ANN search = brute force within
    * the query's bucket (multi-probed by hamming-adjacent buckets). One
    * narrow projection, shuffles only on the bucket key for downstream
    * joins.
    */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
                 dim: Int, nBits: Int = 8): DataFrame =
    emb.select(col(idCol), col(vecCol),
      lshBucket(asDouble(col(vecCol)), dim, nBits).as("bucket"))

  /** The query bucket plus its `nBits` hamming-1 neighbors (multi-probe):
    * raises recall without raising nBits' bucket-population cost. Input is
    * the 1-row (bucket, qv) frame; output one row per probe bucket.
    */
  private def hamming1Probes(qb: DataFrame, nBits: Int): DataFrame = {
    val probes = col("_qb") +: (1 to nBits).map { i =>
      concat(
        substring(col("_qb"), 1, i - 1),
        when(substring(col("_qb"), i, 1) === "1", "0").otherwise("1"),
        substring(col("_qb"), i + 1, nBits - i))
    }
    qb.select(explode(array(probes: _*)).as("_qb"), col("_qv"), col("_qn"))
  }

  /** ANN top-k via LSH: restrict the scan to the query vector's bucket
    * plus (if `multiProbe`) its hamming-1 neighbor buckets, then exact
    * cosine rank inside that slice. The probe set is a broadcast of
    * nBits+1 rows, so the scan side never shuffles; with nBits bits the
    * scanned fraction is ≈ (nBits+1)/2^nBits of the corpus.
    */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              dim: Int, queryId: Long, k: Int, nBits: Int = 8,
              multiProbe: Boolean = true): DataFrame = {
    val bucketed = lshBuckets(emb, idCol, vecCol, dim, nBits)
    val qb = bucketed.filter(col(idCol) === queryId)
      .select(col("bucket").as("_qb"), asDouble(col(vecCol)).as("_qv"))
      .withColumn("_qn", norm(col("_qv")))
    val probes = if (multiProbe) hamming1Probes(qb, nBits) else qb
    bucketed
      .select(col(idCol), asDouble(col(vecCol)).as("_v"), col("bucket"))
      .withColumn("_vn", norm(col("_v")))
      .join(broadcast(probes), col("bucket") === col("_qb"))
      .select(col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) ANN — the other classic scale path beside LSH.
    *
    * Coarse quantizer: `nCells` seed centroids drawn deterministically
    * from the corpus itself (ids ordered by md5 — an unbiased, reprodu-
    * cible sample; a k-means refinement can replace the seed list without
    * touching anything downstream). Every vector is assigned its nearest
    * centroid by the zero-shuffle [[graft.functions.VectorFunctions
    * .nearestCentroid]] expression; a query probes the `nProbe` cells
    * whose centroids are nearest to it and brute-forces only those.
    *
    * Plan shape at any scale: one tiny driver job collecting BOTH the k
    * seed centroids and the query vector (k+1 rows — broadcast-sized by
    * construction), then scan + filter(cell ∈ probes) +
    * TakeOrderedAndProject. No shuffle anywhere. Scanned fraction ≈
    * nProbe/nCells of the corpus. For a standing corpus use the persisted
    * layout instead ([[buildIvfIndex]]/[[ivfIndexTopK]]): there the cell
    * filter prunes partition DIRECTORIES, so the non-probed fraction is
    * never read at all.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nCells: Int = 16, nProbe: Int = 3,
              scale: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col(idCol), asDouble(col(vecCol)).as("_v"))
    // ONE bounded driver job for both setup fetches (nCells seed rows +
    // the query vector, tagged and unioned) instead of two
    val seeded = e
      .select(col(idCol).as("_id"), col("_v"), md5(col(idCol).cast("string")).as("_h"))
      .orderBy(col("_h"), col("_id"))
      .limit(nCells)
      .select(lit(0).as("_t"), col("_h"), col("_id").cast("long").as("_id"), col("_v"))
    val qrow = e.filter(col(idCol) === queryId)
      .select(lit(1).as("_t"), lit("").as("_h"), lit(0L).as("_id"), col("_v"))
    val setup = seeded.unionAll(qrow).collect()
    val centroids: Array[Array[Double]] = setup.filter(_.getInt(0) == 0)
      // restore the sample's (md5, id) order — union keeps no order, and
      // the numeric-id tie-break must match the orderBy above and the
      // oracle's ROW_NUMBER ... ORDER BY h, id (the pqTopK convention;
      // a string-keyed sort would diverge from it on an md5 collision)
      .sortBy(r => (r.getString(1), r.getLong(2)))
      .map(_.getSeq[Double](3).toArray)
    val qv: Array[Double] = setup.find(_.getInt(0) == 1)
      .map(_.getSeq[Double](3).toArray)
      .getOrElse(throw new NoSuchElementException(s"query id $queryId not in corpus"))
    val cellOf = graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids)
    val probes = nearestCells(centroids, qv, nProbe)
    // 1-row broadcast built from the ALREADY-COLLECTED vector — the
    // filter-the-corpus form would re-scan everything at execution time
    // just to re-fetch one row the driver holds
    val q = Seq(Tuple1(qv.toSeq)).toDF("_qv")
      .withColumn("_qn", norm(col("_qv")))
    e.withColumn("_cell", cellOf)
      .filter(col("_cell").isin(probes.toIndexedSeq: _*))
      .withColumn("_vn", norm(col("_v")))
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Shared k-NN-join plumbing. The id column must be integral: the
    * bounded [[graft.functions.TopKAgg]] rank buffers bigint ids, and a
    * silent string→bigint cast would null ids (or fail under ANSI) —
    * fail fast with the reason instead.
    */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$op needs an integral id column (the bounded top-k rank carries bigint ids); " +
        s"'$idCol' is $dt")
  }

  /** Each query row fanned out to its probe buckets — its own plus (when
    * `multiProbe`) the nBits hamming-1 flips — with q_id carried. Input:
    * (q_id, _qv, _qb); output one (q_id, _qv, _pb) row per probe.
    */
  private def hammingProbesPerQuery(qb: DataFrame, nBits: Int,
                                    multiProbe: Boolean): DataFrame = {
    val probeCols = col("_qb") +: (if (multiProbe) (1 to nBits).map { i =>
      concat(
        substring(col("_qb"), 1, i - 1),
        when(substring(col("_qb"), i, 1) === "1", "0").otherwise("1"),
        substring(col("_qb"), i + 1, nBits - i))
    } else Nil)
    qb.select(col("q_id"), col("_qv"), col("_qn"),
      explode(array(probeCols: _*)).as("_pb"))
  }

  /** Bounded per-query top-k over (q_id, idCol, cos_sim) candidates —
    * map-side-combined [[graft.functions.TopKAgg]], never a window (a
    * window would shuffle and sort every candidate).
    */
  private def topKPerQuery(cand: DataFrame, idCol: String, k: Int): DataFrame =
    cand.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col(idCol), col("cos_sim")).as("_top"))
      .select(col("q_id"), explode(col("_top")).as("_e"))
      .select(col("q_id"), col("_e._1").as(idCol), col("_e._2").as("cos_sim"))

  /** The k-NN joins' query side: (q_id, `_qv` array<double>, norm `_qn`). */
  private def queryVectors(queries: DataFrame, qIdCol: String,
                           qVecCol: String): DataFrame =
    queries.select(col(qIdCol).as("q_id"), asDouble(col(qVecCol)).as("_qv"))
      .withColumn("_qn", norm(col("_qv")))

  /** Stage 2 of the two-stage k-NN joins: the bounded (q_id, idCol)
    * candidate set broadcasts into ONE equi-join against `corpus` (only
    * candidate floats are fetched, the corpus never shuffles), the
    * broadcast `queryVecs` re-attach each query, exact cosine ranks.
    */
  private def exactRerank(corpus: DataFrame, idCol: String, vecCol: String,
                          cands: DataFrame, queryVecs: DataFrame,
                          k: Int, scale: Int): DataFrame =
    topKPerQuery(
      corpus.select(col(idCol), asDouble(col(vecCol)).as("_v"))
        .withColumn("_vn", norm(col("_v")))
        .join(broadcast(cands), Seq(idCol))
        .join(broadcast(queryVecs), Seq("q_id"))
        .select(col("q_id"), col(idCol),
          round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
            scale).as("cos_sim")),
      idCol, k)

  /** Batch ANN via LSH — the hyperplane-bucket twin of [[ivfKnnJoin]]:
    * top-k corpus neighbours for every query row, each query probing its
    * own bucket plus the `nBits` hamming-1 neighbours. Probe expansion is
    * a projection (explode of nBits+1 computed strings, q_id carried),
    * then ONE equi-join on the bucket key and a bounded per-query top-k
    * aggregation. Each (query, doc) pair arises at most once (a doc has
    * one bucket; a query's probes are distinct). Scanned fraction ≈
    * (nBits+1)/2^nBits per query. Deterministic (md5-derived planes) →
    * hash-checked (q56).
    *
    * `broadcastQueries` (default true — the typical queries ≪ corpus
    * case) pins the probe side as the broadcast build so the CORPUS side
    * never shuffles; set false for huge query sets, where a two-sided
    * shuffle on the bucket key is the correct plan.
    */
  def lshKnnJoin(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String,
                 qIdCol: String, qVecCol: String,
                 k: Int, dim: Int, nBits: Int = 6,
                 multiProbe: Boolean = true, scale: Int = 6,
                 broadcastQueries: Boolean = true): DataFrame = {
    requireIntegralId(corpus, idCol, "lshKnnJoin")
    val bucketed = lshBuckets(corpus, idCol, vecCol, dim, nBits)
    val qb = queryVectors(queries, qIdCol, qVecCol)
      .withColumn("_qb", lshBucket(col("_qv"), dim, nBits))
    val probed = hammingProbesPerQuery(qb, nBits, multiProbe)
    val probeSide = if (broadcastQueries) broadcast(probed) else probed
    topKPerQuery(
      bucketed
        .select(col(idCol), asDouble(col(vecCol)).as("_v"), col("bucket"))
        .withColumn("_vn", norm(col("_v")))
        .join(probeSide, col("bucket") === col("_pb"))
        .select(col("q_id"), col(idCol),
          round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
            scale).as("cos_sim")),
      idCol, k)
  }

  /** Batch ANN — the k-NN JOIN: top-k corpus neighbours for EVERY query
    * row, via the same IVF coarse quantizer as [[ivfTopK]]. This is the
    * embedding-retrieval/dedup primitive at scale: "for each of these M
    * documents, find its k nearest in the 100 TB corpus" as ONE job
    * instead of M point queries.
    *
    * Shape: seed centroids are one bounded driver fetch (nCells rows);
    * corpus cell assignment and per-query probe selection are both
    * zero-shuffle projections ([[graft.functions.VectorFunctions
    * .nearestCentroid]] / `.nearestCentroids` — the probe list explodes
    * to nProbe rows per query, no queries × centroids join); then one
    * equi-join on the cell key and a bounded per-query top-k aggregation.
    * Each (query, doc) pair arises at most once (a doc has ONE cell).
    * Scanned fraction ≈ nProbe/nCells per query. Deterministic end to
    * end — the DuckDB oracle mirrors it exactly (q54).
    * `broadcastQueries` as in [[lshKnnJoin]].
    */
  def ivfKnnJoin(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String,
                 qIdCol: String, qVecCol: String,
                 k: Int, nCells: Int = 16, nProbe: Int = 3,
                 scale: Int = 6, broadcastQueries: Boolean = true,
                 excludeSelf: Boolean = false): DataFrame = {
    requireIntegralId(corpus, idCol, "ivfKnnJoin")
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = md5Seeds(e, idCol, "_v", nCells)
    val corpusCells = e.withColumn("_cell",
        graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids))
      .withColumn("_vn", norm(col("_v")))
    val probed = queryVectors(queries, qIdCol, qVecCol)
      .withColumn("_probe", explode(
        graft.functions.VectorFunctions.nearestCentroids(col("_qv"), centroids, nProbe)))
    val probeSide = if (broadcastQueries) broadcast(probed) else probed
    // excludeSelf (the self-join audits: classify-the-labeled-set,
    // label-noise): the id predicate sits BELOW the rank like q128's
    // label band, so every query still fills k from its probed cells
    val joined = corpusCells.join(probeSide, col("_cell") === col("_probe"))
    val inPlay =
      if (excludeSelf) joined.where(col(idCol) =!= col("q_id")) else joined
    topKPerQuery(
      inPlay.select(col("q_id"), col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as("cos_sim")),
      idCol, k)
  }

  /** Cell-balanced sampling — the semantic DIVERSIFICATION sampler: at
    * most `perCell` rows kept per IVF cell, so the sample covers the
    * embedding space UNIFORMLY instead of mirroring its density (a
    * density-proportional sample of a crawl is mostly its biggest
    * topic; a training mixture, an eval probe set, or a labeling batch
    * usually wants breadth). Cells are the md5-seeded IVF geometry the
    * whole family uses (reproducible, no RNG); within a cell the keep
    * set is the md5-coin rank (the [[graft.ops.Sampling]] convention:
    * order by md5(id), ties to id), so membership is a pure function of
    * (corpus, nCells, perCell) — repartition- and engine-stable.
    * Output: (id, cell) for the kept rows.
    *
    * Shape at 100 TB: assignment is the zero-shuffle codegen'd
    * nearestCentroid projection (centroids are an nCells-bounded
    * broadcast via literal folding); the per-cell cut is one rank
    * window over NARROW (id, cell, hash) rows — the q55
    * exact-size-sampler shape with cells as strata.
    */
  def cellBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                         nCells: Int = 16, perCell: Int = 10,
                         kmeansIters: Int = 0): DataFrame = {
    require(perCell >= 1, s"perCell must be positive: $perCell")
    val e = emb
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = ivfCentroids(e, idCol, nCells, kmeansIters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("_h"), col(idCol))
    e.select(col(idCol),
        graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids)
          .cast("long").as("cell"),
        md5(col(idCol).cast("string")).as("_h"))
      .withColumn("_r", row_number().over(w))
      .where(col("_r") <= perCell)
      .select(col(idCol), col("cell"))
  }

  /** Exact brute-force k-NN JOIN — the ground-truth baseline the
    * approximate family ([[lshKnnJoin]]/[[ivfKnnJoin]]/PQ) trades
    * against, and the truth side of the [[annRecall]] audit. Cost is
    * |corpus| × |queries| similarity evaluations: the query side is
    * broadcast (no corpus shuffle — candidates collapse into the bounded
    * per-query top-k aggregation), so this is the right tool for a
    * BOUNDED query set (an eval suite, a recall audit sample), never for
    * query sets that scale with the corpus.
    */
  def bruteKnnJoin(corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String,
                   qIdCol: String, qVecCol: String,
                   k: Int, scale: Int = 6): DataFrame = {
    requireIntegralId(corpus, idCol, "bruteKnnJoin")
    val qb = queryVectors(queries, qIdCol, qVecCol)
    topKPerQuery(
      corpus.select(col(idCol), asDouble(col(vecCol)).as("_v"))
        .withColumn("_vn", norm(col("_v")))
        .crossJoin(broadcast(qb))
        .select(col("q_id"), col(idCol),
          round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
            scale).as("cos_sim")),
      idCol, k)
  }

  /** Projection-coarse k-NN JOIN with full-precision rerank — the
    * two-stage recipe the recall surface decided (BASELINE.md
    * random-projection arm): a deterministic [[graft.functions
    * .VectorFunctions.randomProject]] reduction (the md5-matrix
    * expression behind q131) proposes `kCand` candidates per query by
    * brute cosine rank in `outDim` dimensions, then the ORIGINAL float
    * vectors decide the final top-`k` among those candidates only. Raw
    * projected rank is a coarse tool (it preserves cluster membership
    * but scrambles fine within-cluster order — recall 0.41–0.52 at
    * outDim 8–32 on the planted corpus); with the rerank it measured
    * recall 1.000 at every width, scanning outDim/dim of the float
    * bytes plus kCand full rows per query.
    *
    * Shape at 100 TB: stage 1 is [[bruteKnnJoin]] over PROJECTED
    * vectors — the corpus-side projection is a zero-shuffle codegen'd
    * expression (plan size O(1) in dim·outDim), queries broadcast,
    * candidates collapse into the bounded per-query top-kCand
    * aggregation; stage 2 joins the kCand × |queries| bounded candidate
    * set (broadcast) back to the corpus floats — the corpus never
    * shuffles in either stage, and only the candidate rows' float
    * vectors are ever ranked at full precision. For query sets that
    * scale with the corpus, compose the projection with the IVF/PQ
    * index families instead. Deterministic end to end (fixed md5
    * matrix, rounded scores, numeric-id tiebreaks) → hash-checked
    * against a DuckDB oracle that inlines the matrix literally (q132).
    * Output (q_id, idCol, cos_sim), the k-NN-join family contract.
    */
  def projKnnJoinRerank(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        qIdCol: String, qVecCol: String,
                        k: Int, dim: Int, outDim: Int = 8,
                        kCand: Int = 50, scale: Int = 6): DataFrame = {
    requireIntegralId(corpus, idCol, "projKnnJoinRerank")
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val proj = graft.functions.VectorFunctions.randomProject(_: Column, dim, outDim)
    val qb = queryVectors(queries, qIdCol, qVecCol)
      .withColumn("_qpv", proj(col("_qv")))
      .withColumn("_qpn", norm(col("_qpv")))
    val cands = topKPerQuery(
      corpus.select(col(idCol), proj(asDouble(col(vecCol))).as("_pv"))
        .withColumn("_pn", norm(col("_pv")))
        .crossJoin(broadcast(qb.select(col("q_id"), col("_qpv"), col("_qpn"))))
        .select(col("q_id"), col(idCol),
          round(cosineWithNorms(col("_pv"), col("_qpv"), col("_pn"), col("_qpn")),
            scale).as("cos_sim")),
      idCol, kCand).select(col("q_id"), col(idCol))
    exactRerank(corpus, idCol, vecCol, cands,
      qb.select(col("q_id"), col("_qv"), col("_qn")), k, scale)
  }

  /** Recall@k audit — the acceptance gauge for every approximate
    * retrieval deployment: per query, the fraction of the exact top-k
    * (`truth`) that the approximate result (`approx`) found. Both inputs
    * are k-NN-join outputs (q_id, idCol, ...) with at most one row per
    * (q_id, id) pair — the join-family contract. One equi-join on the
    * (q_id, id) pair key and one per-query aggregation; output
    * (q_id, n_truth, n_hit, recall).
    */
  def annRecall(approx: DataFrame, truth: DataFrame, idCol: String): DataFrame =
    truth.select(col("q_id"), col(idCol))
      .join(approx.select(col("q_id"), col(idCol)).withColumn("_hit", lit(1L)),
        Seq("q_id", idCol), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth"), 6).as("recall"))

  /** Hard-negative mining — the contrastive-training data miner: for
    * every anchor, the `k` most cosine-similar corpus rows whose label
    * DIFFERS from the anchor's (the negatives a bi-encoder actually
    * learns from; random negatives are too easy to carry gradient).
    * `maxSim`/`minSim` band the ROUNDED score inclusively: the ceiling
    * drops suspected unlabeled positives (a different-label row this
    * similar is usually a labeling error, and training on it as a
    * negative poisons the encoder), the floor drops no-signal easy
    * negatives. Self-pairs need no carve-out — an anchor shares its own
    * label, so the label predicate already removes it; null labels never
    * pair (SQL `<>` semantics on either side).
    *
    * Shape at 100 TB: identical to [[bruteKnnJoin]] — anchors are a
    * BOUNDED set (a labeled training slice) broadcast to the corpus,
    * candidates collapse into the map-side-combined bounded
    * [[graft.functions.TopKAgg]]; the corpus never shuffles and only
    * (id, vec, label) columns are read. For anchor sets that scale with
    * the corpus, mine within IVF cells instead: [[ivfKnnJoin]] with a
    * deeper k, then the label/band predicate — recall traded for the
    * probed-fraction scan like the rest of the approximate family.
    * Output (q_id, idCol, cos_sim), the k-NN-join family contract.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    qIdCol: String, qVecCol: String, qLabelCol: String,
                    k: Int, maxSim: Double = 1.0, minSim: Double = -1.0,
                    scale: Int = 6): DataFrame = {
    requireIntegralId(corpus, idCol, "hardNegatives")
    require(minSim <= maxSim, s"empty band: [$minSim, $maxSim]")
    val qb = queries.select(col(qIdCol).as("q_id"),
        asDouble(col(qVecCol)).as("_qv"), col(qLabelCol).as("_ql"))
      .withColumn("_qn", norm(col("_qv")))
    val cand = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("_v"), col(labelCol).as("_l"))
      .withColumn("_vn", norm(col("_v")))
      .crossJoin(broadcast(qb))
      .where(col("_l") =!= col("_ql"))
      .select(col("q_id"), col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as("cos_sim"))
      .where(col("cos_sim") >= minSim && col("cos_sim") <= maxSim)
    topKPerQuery(cand, idCol, k)
  }

  /** [[hardNegatives]]' scale path for anchor sets that GROW with the
    * corpus (mining negatives for every doc of a labeled shard, not a
    * bounded slice): the [[ivfKnnJoin]] shape with the label and band
    * predicates pushed below the rank, so each anchor still yields up
    * to `k` banded different-label negatives from its probed cells —
    * a post-filter on a plain k-NN join would return fewer. One
    * equi-join on the cell key, never a crossJoin; scanned fraction ≈
    * nProbe/nCells per anchor; recall traded exactly as the rest of
    * the IVF family (a hard negative in an unprobed cell is missed —
    * acceptable for mining, which wants hard-ENOUGH, not exact-top).
    * `broadcastQueries` as in [[ivfKnnJoin]]. Output contract = the
    * exact [[hardNegatives]].
    */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       qIdCol: String, qVecCol: String, qLabelCol: String,
                       k: Int, nCells: Int = 16, nProbe: Int = 3,
                       maxSim: Double = 1.0, minSim: Double = -1.0,
                       scale: Int = 6,
                       broadcastQueries: Boolean = true): DataFrame = {
    requireIntegralId(corpus, idCol, "hardNegativesIvf")
    require(minSim <= maxSim, s"empty band: [$minSim, $maxSim]")
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("_v"),
      col(labelCol).as("_l"))
    val centroids = md5Seeds(e, idCol, "_v", nCells)
    val corpusCells = e.withColumn("_cell",
        graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids))
      .withColumn("_vn", norm(col("_v")))
    val probed = queries
      .select(col(qIdCol).as("q_id"), asDouble(col(qVecCol)).as("_qv"),
        col(qLabelCol).as("_ql"))
      .withColumn("_qn", norm(col("_qv")))
      .withColumn("_probe", explode(
        graft.functions.VectorFunctions.nearestCentroids(col("_qv"), centroids, nProbe)))
    val probeSide = if (broadcastQueries) broadcast(probed) else probed
    val cand = corpusCells.join(probeSide, col("_cell") === col("_probe"))
      .where(col("_l") =!= col("_ql"))
      .select(col("q_id"), col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as("cos_sim"))
      .where(col("cos_sim") >= minSim && col("cos_sim") <= maxSim)
    topKPerQuery(cand, idCol, k)
  }

  /** k-NN label propagation — the auto-labeling bootstrap: every query
    * row takes the MAJORITY label of its `k` nearest labeled corpus
    * rows (exact cosine), with `vote_frac` as the confidence a
    * downstream admission threshold cuts on. This is how a small
    * human-labeled quality set fans out over an unlabeled corpus before
    * a [[graft.ops.TextAnalysis.naiveBayesScore]]-style classifier can
    * be trained on the result. Ties break to the SMALLEST label (pure
    * function of the neighbor multiset — engine-stable). `excludeSelf`
    * (default true) keeps a query drawn from the corpus from voting
    * with its own leaked label. Null-label neighbors rank (the top-k
    * cut is label-blind) but neither vote nor count toward
    * `n_neighbors`.
    *
    * Shape at 100 TB — pick the broadcast side to match the direction:
    * default (audit direction, bounded query slice) broadcasts the
    * queries, rank-pass partials bounded map-side, corpus unshuffled;
    * `broadcastLabeled = true` is the AUTO-LABELING direction — the
    * small labeled seed broadcasts and the corpus-sized QUERY set never
    * shuffles beyond its bounded (≤ k per query per task) top-k
    * partials; there the label fetch broadcasts the seed's (id, label)
    * instead of the neighbor set. Votes are two aggregations over ≤ k
    * rows per query; the argmax is a max(struct) — never a window.
    * Output (q_id, pred_label, n_votes, n_neighbors, vote_frac),
    * identical in both directions.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, labelCol: String,
                  qIdCol: String, qVecCol: String,
                  k: Int, excludeSelf: Boolean = true,
                  scale: Int = 6,
                  broadcastLabeled: Boolean = false): DataFrame = {
    requireIntegralId(corpus, idCol, "knnClassify")
    val qb = queryVectors(queries, qIdCol, qVecCol)
    val cb = corpus.select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .withColumn("_vn", norm(col("_v")))
    // default: bounded queries broadcast against the big labeled corpus
    // (the audit direction). broadcastLabeled flips it for the
    // AUTO-LABELING direction — a small labeled seed broadcast against a
    // corpus-sized query set: the queries never shuffle beyond the
    // bounded top-k partials, and the seed rides every executor.
    val pairs =
      if (broadcastLabeled) qb.crossJoin(broadcast(cb))
      else cb.crossJoin(broadcast(qb))
    val inPlay = if (excludeSelf) pairs.where(col(idCol) =!= col("q_id")) else pairs
    val neigh = topKPerQuery(
      inPlay.select(col("q_id"), col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as("cos_sim")),
      idCol, k)
    voteOnNeighbors(neigh, corpus, idCol, labelCol, broadcastLabeled)
  }

  /** The majority-vote stage shared by [[knnClassify]] and
    * [[knnClassifyIvf]]: fetch labels for the ranked neighbor set and
    * take per query the most-voted non-null label (count desc, ties to
    * the smallest label — max(struct(n, −label)), a bounded argmax with
    * no per-query sort). Label fetch broadcasts whichever side is
    * bounded: the k × |queries| neighbor set in the audit direction,
    * the seed labels when `broadcastLabeled`. When NEITHER side is
    * bounded (`broadcastNeighbors = false` — the corpus-scale audit
    * where every labeled row is a query, so the neighbor set is
    * k × millions), no hint is given and the id-keyed equi-join
    * shuffles both sides (AQE still broadcasts at runtime if one side
    * turns out small).
    */
  private def voteOnNeighbors(neigh: DataFrame, corpus: DataFrame,
                              idCol: String, labelCol: String,
                              broadcastLabeled: Boolean,
                              broadcastNeighbors: Boolean = true): DataFrame = {
    val labels = corpus
      .select(col(idCol), col(labelCol).as("_lab"))
      .where(col("_lab").isNotNull)
    val nsel = neigh.select(col("q_id"), col(idCol))
    val votes = (if (broadcastLabeled) nsel.join(broadcast(labels), Seq(idCol))
      else if (broadcastNeighbors) labels.join(broadcast(nsel), Seq(idCol))
      else labels.join(nsel, Seq(idCol)))
      .groupBy(col("q_id"), col("_lab")).agg(count(lit(1)).as("_n"))
    votes.groupBy(col("q_id"))
      .agg(max(struct(col("_n"), (-col("_lab")).as("_negLab"))).as("_best"),
        sum(col("_n")).as("n_neighbors"))
      .select(col("q_id"),
        (-col("_best._negLab")).cast("int").as("pred_label"),
        col("_best._n").as("n_votes"),
        col("n_neighbors"),
        round(col("_best._n").cast("double") / col("n_neighbors"), 6)
          .as("vote_frac"))
  }

  /** [[knnClassify]] under the IVF cell geometry — the scale path when
    * BOTH sides grow with the corpus (a labeled set too big to
    * broadcast, an audit over millions of labeled rows): the q54
    * seed/assign/probe machinery ranks each query's k nearest within
    * its probed cells (scanned fraction ≈ nProbe/nCells), the
    * `excludeSelf` predicate sits BELOW the rank so every query still
    * fills k, and the vote statement is byte-identical to the exact
    * classifier's. Recall traded for the probed fraction like the rest
    * of the approximate family — at full probe (nProbe = nCells) the
    * output equals [[knnClassify]] exactly (spec-pinned). Deterministic
    * → DuckDB hash-checked (q137, through [[labelNoiseAuditIvf]]).
    */
  def knnClassifyIvf(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, labelCol: String,
                     qIdCol: String, qVecCol: String,
                     k: Int, nCells: Int = 16, nProbe: Int = 3,
                     excludeSelf: Boolean = true, scale: Int = 6,
                     broadcastQueries: Boolean = true): DataFrame = {
    val neigh = ivfKnnJoin(corpus, queries, idCol, vecCol, qIdCol, qVecCol,
      k, nCells, nProbe, scale, broadcastQueries, excludeSelf)
    // broadcastQueries=false is the "audit set cannot ride the
    // executors" contract — the k × |queries| neighbor set is just as
    // unbounded, so the label fetch must not broadcast it either.
    voteOnNeighbors(neigh, corpus, idCol, labelCol,
      broadcastLabeled = false, broadcastNeighbors = broadcastQueries)
  }

  /** [[labelNoiseAudit]] at corpus scale — the same audit contract
    * (stored label vs confident neighborhood vote, `agree` flag) with
    * [[knnClassifyIvf]]'s celled rank instead of the exact all-pairs
    * pass: the path when the labeled set is too large for the
    * quadratic audit (q130's cost model is exact BY DESIGN for
    * human-labeled thousands; auto-labeled corpora re-audited at
    * millions need the probed fraction). `broadcastQueries = false`
    * plans the two-sided cell-key shuffle for audit sets that cannot
    * ride the executors.
    */
  def labelNoiseAuditIvf(labeled: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, k: Int, nCells: Int = 16,
                         nProbe: Int = 3, scale: Int = 6,
                         broadcastQueries: Boolean = true): DataFrame = {
    val preds = knnClassifyIvf(labeled,
      labeled.where(col(labelCol).isNotNull),
      idCol, vecCol, labelCol, idCol, vecCol, k, nCells, nProbe,
      excludeSelf = true, scale = scale,
      broadcastQueries = broadcastQueries)
    preds
      .join(labeled.select(col(idCol).as("q_id"),
        col(labelCol).cast("int").as("label")), Seq("q_id"))
      .select(col("q_id"), col("label"), col("pred_label"), col("n_votes"),
        col("n_neighbors"), col("vote_frac"),
        (col("label") === col("pred_label")).as("agree"))
  }

  /** Label-noise audit — [[knnClassify]] turned on the labeled set
    * ITSELF: every labeled row is re-predicted from its `k` nearest
    * OTHER labeled rows (self excluded — that is the point), and rows
    * whose stored label disagrees with a confident neighborhood vote
    * are the mislabel suspects a human re-checks before the set trains
    * a classifier or seeds [[graft.streaming.Streams.knnGateSink]]
    * (confident-learning's first move). Output: (q_id, label,
    * pred_label, n_votes, n_neighbors, vote_frac, agree) — sort by
    * (agree asc, vote_frac desc) for the re-check queue. Rows the vote
    * cannot reach (every neighbor null-labeled) drop with the
    * [[knnClassify]] contract. Shape: exactly [[knnClassify]]'s rank
    * pass (labeled sets are small enough to audit — the query side
    * broadcasts) plus one stored-label attach, an id-keyed equi-join
    * of two same-sized tables (AQE picks the side to broadcast).
    */
  def labelNoiseAudit(labeled: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, k: Int, scale: Int = 6): DataFrame = {
    val preds = knnClassify(labeled, labeled.where(col(labelCol).isNotNull),
      idCol, vecCol, labelCol, idCol, vecCol, k,
      excludeSelf = true, scale = scale)
    preds
      .join(labeled.select(col(idCol).as("q_id"),
        col(labelCol).cast("int").as("label")), Seq("q_id"))
      .select(col("q_id"), col("label"), col("pred_label"), col("n_votes"),
        col("n_neighbors"), col("vote_frac"),
        (col("label") === col("pred_label")).as("agree"))
  }

  /** Persist a labeled seed set as a frozen model layout for
    * [[knnClassify]]-style gating ([[graft.streaming.Streams
    * .knnGateSink]]): `seed/` holds (id, vec, label) with vectors
    * widened to double and null-label rows dropped (they can never
    * vote), `meta` marks the layout. The seed is small by definition
    * (it broadcasts at score time), so one file; refreshing it is a
    * rebuild with dependent sinks stopped — the frozen-geometry
    * convention of every model layout.
    */
  def buildLabelSeed(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                     idCol: String, vecCol: String, labelCol: String,
                     path: String): Unit = {
    requireIntegralId(df, idCol, "buildLabelSeed")
    val seed = df.where(col(labelCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec"),
        col(labelCol).cast("int").as("label"))
    require(!seed.isEmpty, "buildLabelSeed: no labeled rows to persist")
    seed.coalesce(1).write.mode("overwrite").parquet(s"$path/seed")
    writeIndexMeta(spark, path, Seq("layout" -> "knn_seed"))
  }

  /** Driver-side probe selection: the `nProbe` cells whose centroids are
    * nearest the query by cosine — over a table bounded at nCells rows.
    */
  private def nearestCells(centroids: Array[Array[Double]], qv: Array[Double],
                           nProbe: Int): Array[Int] = {
    val qnorm = math.sqrt(qv.map(x => x * x).sum)
    centroids.zipWithIndex.map { case (c, i) =>
      val denom = math.sqrt(c.map(x => x * x).sum) * qnorm
      val sim = if (denom == 0) 0.0 else c.zip(qv).map { case (a, b) => a * b }.sum / denom
      (i, sim)
    }.sortBy { case (i, s) => (-s, i) }.take(nProbe).map(_._1)
  }

  /** SemDeDup — semantic deduplication in embedding space (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): cluster the corpus with the IVF coarse
    * quantizer, then WITHIN each cell mark a vector as a semantic
    * duplicate when a lower-id vector in the same cell has cosine ≥
    * `tau`. Exact dedup (q27) catches byte-identity, MinHash (q28)
    * lexical overlap; this catches paraphrases and re-renderings that
    * share no tokens. Output: (id, cell, keep) for every vector — the
    * keep-list form the cleaning pass consumes.
    *
    * Deterministic end to end: md5-ordered seed centroids (the [[ivfTopK]]
    * sample — the DuckDB oracle mirrors them literally), argmax-cosine
    * cell assignment (ties to the lower cell), greedy-by-id dup marking
    * (no RNG, no iteration-order dependence).
    *
    * Shape at 100 TB: assignment is the zero-shuffle [[graft.functions
    * .VectorFunctions.nearestCentroid]] projection (centroids are a
    * bounded nCells-row driver collect); the within-cell pair scan is a
    * self-join on the cell key with ONE repartition feeding both sides
    * (reused exchange, the [[Dedup.ngramJaccard]] idiom). Within-cell
    * work is quadratic in cell population BY DESIGN — that is SemDeDup's
    * cost model; size nCells ≈ corpus/1k so cells stay ~10³ (the paper
    * uses 50k cells for LAION-440M), and the keep-flag join back is a
    * fixed-width id join of the small drop set.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 16, tau: Double = 0.4): DataFrame = {
    val cells = semCells(emb, idCol, vecCol, nCells)
    val drops = semPairsFromCells(cells, idCol, tau)
      .select(col("d2").as(idCol)).distinct()
      .withColumn("_dup", lit(1))
    cells.select(col(idCol), col("cell"))
      .join(drops, Seq(idCol), "left")
      .select(col(idCol), col("cell").cast("long").as("cell"),
        when(col("_dup").isNotNull, 0L).otherwise(1L).as("keep"))
  }

  /** Within-cell semantic near-dup PAIRS (d1 < d2) — [[semDedup]]'s
    * candidate stage exposed for rollups (the cross-source semantic
    * contamination matrix) and audits. Same determinism and 100 TB
    * shape as [[semDedup]].
    */
  def semPairs(emb: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 16, tau: Double = 0.4): DataFrame =
    semPairsFromCells(semCells(emb, idCol, vecCol, nCells), idCol, tau)

  private def semCells(emb: DataFrame, idCol: String, vecCol: String,
                       nCells: Int): DataFrame = {
    val e = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = ivfCentroids(e, idCol, nCells, kmeansIters = 0)
    // norm precomputed BELOW the cell exchange (8 bytes/row on the wire)
    // so the within-cell quadratic pair scan pays one dot per pair, not
    // three — see [[cosineWithNorms]]
    e.select(col(idCol), col("_v"), norm(col("_v")).as("_vn"),
      graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids)
        .as("cell"))
  }

  private def semPairsFromCells(cells: DataFrame, idCol: String,
                                tau: Double): DataFrame = {
    val part = cells.repartition(col("cell"))
    part.as("a")
      .join(part.as("b"),
        col("a.cell") === col("b.cell") &&
          col(s"b.$idCol") < col(s"a.$idCol") &&
          cosineWithNorms(col("a._v"), col("b._v"),
            col("a._vn"), col("b._vn")) >= tau)
      .select(col(s"b.$idCol").as("d1"), col(s"a.$idCol").as("d2"))
  }

  /** IVF cell-balance profile — the index-health audit run BEFORE
    * committing to a layout: per cell, its population and corpus share.
    * Unbalanced cells are the IVF failure mode (a 40%-share cell makes
    * every probe of it a near-full scan; empty cells waste probe
    * budget), and the profile is what sizes nCells / decides whether
    * k-means refinement is worth a rebuild. Same seed centroids and
    * assignment as [[ivfTopK]]/[[buildIvfIndex]], so the profile
    * describes exactly the layout those would build.
    *
    * Shape at 100 TB: assignment is the zero-shuffle nearestCentroid
    * projection; the profile is ONE map-side-combined exchange of
    * (cell) keys — nCells rows out; total is a 1-row broadcast.
    */
  def ivfCellProfile(emb: DataFrame, idCol: String, vecCol: String,
                     nCells: Int = 16): DataFrame = {
    val e = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = ivfCentroids(e, idCol, nCells, kmeansIters = 0)
    val counts = e
      .select(graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids)
        .cast("long").as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val total = counts.agg(sum(col("n_vecs")).as("_n"))
    counts.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("_n"), 6).as("share"))
      .orderBy(col("cell"))
  }

  /** Per-label embedding data card — [[Analytics.dataCard]]'s vector-side
    * twin: per label, the vector count, missing (null/empty) payloads,
    * distinct dimensionalities (anything but 1 means a mixed-encoder
    * corpus — the bug this audit exists to catch), zero-norm count
    * (cosine-undefined vectors — the probes rank them 0 via
    * [[cosineGuarded]], so they never displace a POSITIVE match and
    * never satisfy a screening threshold, though a large-k top-k can
    * surface them ahead of negative-cosine rows; this card is where
    * they become visible), and mean L2
    * norm (un-normalized embeddings break dot-for-cosine shortcuts).
    * One aggregation, zero joins; norms come from the codegen'd
    * [[dot]] expression so the card is a single projection + exchange.
    */
  def embeddingCard(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    val hasVec = col(vecCol).isNotNull && size(col(vecCol)) > 0
    emb.select(col(labelCol).as("label"),
        when(hasVec, lit(0L)).otherwise(1L).as("_novec"),
        when(hasVec, size(col(vecCol))).as("_dim"),
        when(hasVec, norm(asDouble(col(vecCol)))).as("_norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("_novec")).as("n_missing"),
        countDistinct(col("_dim")).as("n_dims"),
        sum(when(col("_norm") === 0.0d, 1L).otherwise(0L)).as("n_zero_norm"),
        round(avg(col("_norm")), 4).as("avg_norm"))
      .orderBy(col("label"))
  }

  /** Rebuild-drift audit for a persisted FLOAT IVF index — the
    * operational "when do I rebuild?" gauge the frozen-centroid contract
    * creates: streamed appends are placed by BUILD-time centroids
    * ([[graft.streaming.Streams.ivfIndexSink]]), so as the corpus
    * drifts, stored assignments diverge from what a fresh build would
    * choose and probe recall quietly decays. The audit refits centroids
    * on the CURRENT stored corpus (the builder's own deterministic
    * md5-ordered seeding + optional Lloyd rounds, nCells inferred from
    * the stored centroid table) and reports per stored cell:
    *
    *   `n_stored`  — rows the cell holds today;
    *   `n_rebuilt` — rows a fresh build would give it;
    *   `n_stayed`  — rows that would remain (same cell id both ways);
    *   `retention` — n_stayed / n_stored (0 for a cell a rebuild
    *                 empties).
    *
    * `1 − Σ n_stayed / Σ n_stored` is the global drift fraction a
    * deployment alerts on. Plan: one bounded centroid fit (the builder's
    * jobs), ONE scan computing fresh assignments as a codegen'd
    * projection, two aggregations on the small (≤ nCells) key, a full
    * outer join of the two count tables. Float layout only — the audit
    * needs stored vectors; for quantized/PQ layouts use
    * [[codeRebuildDrift]], which decodes the stored codes.
    *
    * `kmeansIters` defaults to −1 = "read the build's value from the
    * layout's `meta` table" — refitting with a DIFFERENT Lloyd budget
    * than the build used would report spurious drift, so the audit
    * takes the recorded value; pass it explicitly only for a pre-meta
    * layout (where the fallback is 0) or to deliberately audit against
    * a different refit.
    */
  def ivfRebuildDrift(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, vecCol: String,
                      kmeansItersOverride: Int = -1): DataFrame = {
    val kmeansIters =
      if (kmeansItersOverride >= 0) kmeansItersOverride
      else readIndexMeta(spark, path).get("kmeans_iters").map(_.toInt).getOrElse(0)
    val nCells = spark.read.parquet(s"$path/centroids").count().toInt // bounded
    val data = spark.read.parquet(s"$path/data")
    val e = data.select(col(idCol), asDouble(col(vecCol)).as("_v"),
      col("cell").cast("int").as("_stored"))
    rebuildDriftCore(e, idCol, nCells, kmeansIters)
  }

  /** [[ivfRebuildDrift]] for the CODE-storing layouts — the ones a
    * 100 TB deployment actually runs, where the floats are gone from
    * the index and possibly from everywhere: int8-quantized IVF
    * ([[buildIvfIndexQuantized]]) and IVF-PQ ([[buildIvfPqIndex]], raw
    * or residual). Codes are decodable against their stored
    * scale/codebooks, so the audit DECODES every stored row
    * (`q·scale/127` for int8; codeword concatenation for PQ, plus the
    * cell centroid in residual layouts), refits centroids on the
    * decoded corpus with the build's own deterministic seeding and the
    * meta-recorded `kmeans_iters`, and reports the q111 contract
    * (n_stored / n_rebuilt / n_stayed / retention per cell).
    *
    * The refit sees the decoded corpus, not the original floats, so
    * retention on a FRESH layout is the layout's quantization
    * coherence (int8: ~1.0, decode error ≪ cell margins; PQ at small
    * budgets: lower — the reconstruction genuinely moves points across
    * cell boundaries, which is information the audit should show, not
    * hide); what a deployment alerts on is the DECAY of that number as
    * appends drift, against the fresh-build baseline. Deterministic end
    * to end, so the whole audit hash-checks against a DuckDB oracle
    * that replays quantize → decode → seed → assign (q114).
    *
    * Layout is read from `meta`; flat PQ has no cells to audit (fail
    * fast). Plan: the decode is one codegen'd projection over the
    * layout scan — same shape and cost as q111's audit plus the decode
    * arithmetic.
    */
  def codeRebuildDrift(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String,
                       kmeansItersOverride: Int = -1): DataFrame = {
    val meta = readIndexMeta(spark, path)
    val layout = meta.getOrElse("layout",
      throw new IllegalArgumentException(
        s"codeRebuildDrift: no layout meta at $path (pre-meta layout? " +
          "rebuild it, or use ivfRebuildDrift for float layouts)"))
    val kmeansIters =
      if (kmeansItersOverride >= 0) kmeansItersOverride
      else meta.get("kmeans_iters").map(_.toInt).getOrElse(0)
    // validate the layout BEFORE touching `centroids` — a flat PQ layout
    // has none, and the missing-path error would mask the real reason
    require(layout == "ivf_int8" || layout == "ivf_pq",
      s"codeRebuildDrift: layout '$layout' at $path has no cell " +
        "assignment to audit (float IVF: use ivfRebuildDrift; flat PQ " +
        "has no cells)")
    val nCells = spark.read.parquet(s"$path/centroids").count().toInt // bounded
    rebuildDriftCore(decodeStored(spark, path, idCol), idCol, nCells,
      kmeansIters)
  }

  /** Decode a code-storing layout's rows back to reconstructed vectors:
    * (idCol, `_v` array<double>, `_stored` cell). One codegen'd
    * projection over the layout scan — shared by [[codeRebuildDrift]]
    * and the rebuild maintenance task
    * ([[graft.ops.IndexMaintenance.rebuild]]).
    */
  private[graft] def decodeStored(spark: org.apache.spark.sql.SparkSession,
                                  path: String, idCol: String): DataFrame = {
    val meta = readIndexMeta(spark, path)
    val data = spark.read.parquet(s"$path/data")
    meta.getOrElse("layout", "") match {
      case "ivf_int8" =>
        data.select(col(idCol),
          transform(col("q"), y => y.cast("double") * col("scale") / lit(127.0d))
            .as("_v"),
          col("cell").cast("int").as("_stored"))
      case "ivf_pq" =>
        val cb = readCodebooks(spark, path)
        val dec = pqDecodeCol(col("codes"), cb)
        val v =
          if (meta.get("encoding").contains("residual")) {
            val cents = typedLit(readCentroidMatrix(spark, path)
              .map(_.toSeq).toSeq)
            zip_with(dec, element_at(cents, col("cell").cast("int") + 1),
              (a, b) => a + b)
          } else dec
        data.select(col(idCol), v.as("_v"), col("cell").cast("int").as("_stored"))
      case "pq" =>
        val cb = readCodebooks(spark, path)
        data.select(col(idCol), pqDecodeCol(col("codes"), cb).as("_v"),
          lit(0).as("_stored")) // flat layout: no cells
      case other => throw new IllegalArgumentException(
        s"decodeStored: layout '$other' at $path stores no decodable codes")
    }
  }

  /** Decode PQ codes back to the reconstructed vector — codeword
    * concatenation over the codebook literal, one codegen'd projection
    * (`flatten(transform(codes, (c, s) → cb[s][c]))`).
    */
  private def pqDecodeCol(codes: Column, cb: Array[Array[Array[Double]]])
      : Column = {
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    flatten(transform(codes, (c, s) =>
      element_at(element_at(cbLit, s + 1), c + 1)))
  }

  /** Bounded read of a layout's centroid table as a cell-ordered
    * matrix — the one reader the IVF probes, the decode paths and the
    * streaming sinks' sink-start freeze share.
    */
  private[graft] def readCentroidMatrix(spark: org.apache.spark.sql.SparkSession,
                                         path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** The shared audit tail of [[ivfRebuildDrift]]/[[codeRebuildDrift]]:
    * refit on `e` = (id, _v, _stored), assign fresh cells, count per
    * cell.
    */
  private def rebuildDriftCore(e: DataFrame, idCol: String, nCells: Int,
                               kmeansIters: Int): DataFrame = {
    val fresh = ivfCentroids(e.select(col(idCol), col("_v")), idCol,
      nCells, kmeansIters)
    val assigned = e.withColumn("_fresh",
      graft.functions.VectorFunctions.nearestCentroid(col("_v"), fresh).cast("int"))
    val stored = assigned.groupBy(col("_stored").as("cell"))
      .agg(count(lit(1)).as("n_stored"),
        sum(when(col("_fresh") === col("_stored"), 1L).otherwise(0L)).as("n_stayed"))
    val rebuilt = assigned.groupBy(col("_fresh").as("cell"))
      .agg(count(lit(1)).as("n_rebuilt"))
    stored.join(rebuilt, Seq("cell"), "full_outer")
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n_stored"), lit(0L)).as("n_stored"),
        coalesce(col("n_rebuilt"), lit(0L)).as("n_rebuilt"),
        coalesce(col("n_stayed"), lit(0L)).as("n_stayed"))
      .withColumn("retention",
        when(col("n_stored") > 0,
          round(col("n_stayed").cast("double") / col("n_stored"), 6))
          .otherwise(lit(0.0d)))
      .orderBy(col("cell"))
  }

  // ─── Persisted index layouts ─────────────────────────────────────────
  //
  // The in-query forms above compute buckets/cells per query — right for
  // ad-hoc search, wrong for a standing corpus: at 100 TB the scan-and-
  // filter still READS every file. The persisted layouts write the corpus
  // partitioned by cell / bucket once, so a probe prunes at file-listing
  // time (PartitionFilters in the scan) and touches only nProbe/nCells
  // (IVF) or (nBits+1)/2^nBits (LSH) of the data on disk.

  /** Build an IVF index at `path`:
    *   `path/centroids` — (cell, centroid), nCells rows;
    *   `path/data`      — the corpus + `cell`, partitioned by cell.
    * Seed centroids are the deterministic md5-ordered corpus sample (same
    * as [[ivfTopK]]); `kmeansIters` Lloyd rounds refine them. Each round
    * is one groupBy(cell) with the [[graft.functions.VectorMean]] typed
    * Aggregator: map-side reduce into a dim-width buffer, so the shuffle
    * carries nCells × dim doubles per partition — never raw vectors, and
    * never an n×dim exploded intermediate.
    */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String, path: String,
                    nCells: Int = 16, kmeansIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    // null/empty vectors carry no geometry: they cannot seed, refine or
    // be assigned a cell (a null assignment would NPE the refinement's
    // cell lookup and an all-empty cell would zero a centroid)
    val clean = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val e = clean.select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = ivfCentroids(e, idCol, nCells, kmeansIters)
    writeCentroids(spark, centroids, path)
    writeIndexMeta(spark, path, Seq("layout" -> "ivf",
      "n_cells" -> nCells.toString, "kmeans_iters" -> kmeansIters.toString))
    clean.withColumn("cell",
        graft.functions.VectorFunctions.nearestCentroid(asDouble(col(vecCol)), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
  }

  /** The seed sample every IVF centroid set and PQ codebook starts
    * from: `n` vectors of `vecCol` ordered by (md5(id), numeric id), the
    * oracles' ROW_NUMBER order. One bounded driver fetch, no RNG state.
    */
  private def md5Seeds(e: DataFrame, idCol: String, vecCol: String,
                       n: Int): Array[Array[Double]] =
    e.select(col(idCol).as("_id"), col(vecCol).as("_s"),
        md5(col(idCol).cast("string")).as("_h"))
      .orderBy(col("_h"), col("_id"))
      .limit(n)
      .select(col("_s")).collect().map(_.getSeq[Double](0).toArray)

  /** Seed + Lloyd-refine the IVF centroids (shared by the full-precision
    * and quantized builders — both layouts carry the same geometry).
    */
  private def ivfCentroids(e: DataFrame, idCol: String, nCells: Int,
                           kmeansIters: Int): Array[Array[Double]] = {
    var centroids = md5Seeds(e, idCol, "_v", nCells)
    var iter = 0
    while (iter < kmeansIters) {
      val cellOf = graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids)
      val means = e.select(cellOf.as("cell"), col("_v"))
        .groupBy(col("cell"))
        .agg(graft.functions.VectorFunctions.vectorMean(col("_v")).as("mv"))
        .collect() // bounded: nCells rows
      val next = centroids.map(_.clone())
      means.foreach { r =>
        val mv = r.getSeq[Double](1)
        if (mv.nonEmpty) next(r.getInt(0)) = mv.toArray // empty mean: keep the seed
      }
      centroids = next
      iter += 1
    }
    centroids
  }

  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** [[buildIvfIndex]] with int8-QUANTIZED storage: data rows are
    * (id, scale, q: array<byte>) instead of the full vector — the place
    * the quantization (q59) pays off, since a standing index is read on
    * every probe and byte values are 4× narrower than floats in the scan.
    * Cell assignment uses the FULL-precision vector (quantize after
    * placing), so the layout's geometry is identical to the full index;
    * in-probe ranks are scale-free quantized cosine. Magnitudes remain
    * reconstructible from (scale, q) when a consumer needs them.
    */
  def buildIvfIndexQuantized(emb: DataFrame, idCol: String, vecCol: String,
                             path: String, nCells: Int = 16,
                             kmeansIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    val clean = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val e = clean.select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = ivfCentroids(e, idCol, nCells, kmeansIters)
    writeCentroids(spark, centroids, path)
    writeIndexMeta(spark, path, Seq("layout" -> "ivf_int8",
      "n_cells" -> nCells.toString, "kmeans_iters" -> kmeansIters.toString))
    e.select(col(idCol),
        graft.functions.VectorFunctions.quantizeInt8(col("_v")).as("_z"),
        graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids).as("cell"))
      .select(col(idCol), col("_z.scale").as("scale"), col("_z.q").as("q"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
  }

  /** The cosine point probe over an already-pruned `scan` whose stored
    * vector is `vec`: the driver-held query rides as a one-row broadcast
    * (no re-scan to fetch it), and the rounded cosine `scoreName` feeds
    * one TakeOrderedAndProject on (score desc, id).
    */
  private def pointProbe(scan: DataFrame, idCol: String, vec: Column,
                         queryVec: Array[Double], k: Int, scale: Int,
                         scoreName: String): DataFrame = {
    val spark = scan.sparkSession
    import spark.implicits._
    val q = Seq(Tuple1(queryVec.toSeq)).toDF("_qv")
      .withColumn("_qn", norm(col("_qv")))
    scan.select(col(idCol), vec.as("_v"))
      .withColumn("_vn", norm(col("_v")))
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
          scale).as(scoreName))
      .orderBy(col(scoreName).desc, col(idCol))
      .limit(k)
  }

  /** Driver-side twin of the QuantizeInt8 expression's rounding (one
    * query vector, bounded).
    */
  private def quantizeDriver(v: Array[Double]): Array[Double] = {
    val s = v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x)))
    if (s == 0) Array.fill(v.length)(0.0)
    else v.map(x => math.floor(x * 127 / s + 0.5))
  }

  /** Top-k over a quantized IVF index ([[buildIvfIndexQuantized]]): same
    * bounded driver probe selection and PartitionFilters pruning as
    * [[ivfIndexTopK]], ranking by scale-free cosine between the stored
    * byte arrays and the identically-quantized query.
    */
  def ivfIndexQuantizedTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                            idCol: String, queryVec: Array[Double],
                            k: Int, nProbe: Int = 3, scale: Int = 6): DataFrame = {
    val probes = nearestCells(readCentroidMatrix(spark, path), queryVec, nProbe)
    pointProbe(spark.read.parquet(s"$path/data")
        .filter(col("cell").isin(probes.toIndexedSeq: _*)),
      idCol, col("q").cast("array<double>"), quantizeDriver(queryVec), k, scale,
      "qcos_sim")
  }

  /** Top-k over a persisted IVF index. Probe selection happens on the
    * driver over the nCells-row centroid table (bounded by construction);
    * the cell filter lands on the PARTITION column, so the scan's
    * PartitionFilters prune non-probed directories before any I/O.
    * Zero Spark jobs before the single pruned scan.
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   idCol: String, vecCol: String, queryVec: Array[Double],
                   k: Int, nProbe: Int = 3, scale: Int = 6): DataFrame = {
    val probes = nearestCells(readCentroidMatrix(spark, path), queryVec, nProbe)
    pointProbe(spark.read.parquet(s"$path/data")
        .filter(col("cell").isin(probes.toIndexedSeq: _*)),
      idCol, asDouble(col(vecCol)), queryVec, k, scale, "cos_sim")
  }

  /** Build an LSH index at `path/data`: corpus + `bucket`, partitioned by
    * bucket. The partition value is prefixed 'b' ("b0101") so Hive-style
    * partition type inference cannot misread a bit string as an integer
    * (e.g. "0111" → 111), which would silently break probe matching.
    */
  def buildLshIndex(emb: DataFrame, idCol: String, vecCol: String, path: String,
                    dim: Int, nBits: Int = 8): Unit =
    emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .withColumn("bucket",
        concat(lit("b"), lshBucket(asDouble(col(vecCol)), dim, nBits)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/data")

  /** [[buildLshIndex]] with int8-QUANTIZED storage — the bucket-
    * partitioned member of the quantized-layout family
    * ([[buildIvfIndexQuantized]]): buckets are assigned from the
    * FULL-precision vector (identical geometry to the float index), data
    * rows store (id, scale, q: array<byte>) — 4× narrower than floats in
    * every probed scan.
    */
  def buildLshIndexQuantized(emb: DataFrame, idCol: String, vecCol: String,
                             path: String, dim: Int, nBits: Int = 8): Unit =
    emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol),
        graft.functions.VectorFunctions.quantizeInt8(asDouble(col(vecCol))).as("_z"),
        concat(lit("b"), lshBucket(asDouble(col(vecCol)), dim, nBits)).as("bucket"))
      .select(col(idCol), col("_z.scale").as("scale"), col("_z.q").as("q"),
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/data")

  /** Top-k over a quantized LSH index ([[buildLshIndexQuantized]]): same
    * driver-side probe selection and PartitionFilters pruning as
    * [[lshIndexTopK]], ranking by scale-free quantized cosine (the q59
    * rank).
    */
  def lshIndexQuantizedTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                            idCol: String, queryVec: Array[Double],
                            dim: Int, k: Int, nBits: Int = 8,
                            multiProbe: Boolean = true, scale: Int = 6): DataFrame =
    pointProbe(spark.read.parquet(s"$path/data")
        .filter(col("bucket").isin(lshProbeBuckets(queryVec, dim, nBits, multiProbe): _*)),
      idCol, col("q").cast("array<double>"), quantizeDriver(queryVec), k, scale,
      "qcos_sim")

  /** Batch probes against a quantized LSH index: [[lshIndexKnnJoin]]'s
    * shape (per-query hamming probes broadcast, DPP-or-repaired
    * directory pruning, bounded TopKAgg) reading the byte layout, with
    * per-row in-flight query quantization — probe buckets from the
    * full-precision vector, ranks quantized.
    */
  def lshIndexQuantizedKnnJoin(spark: org.apache.spark.sql.SparkSession,
                               path: String, idCol: String,
                               queries: DataFrame, qIdCol: String, qVecCol: String,
                               k: Int, dim: Int, nBits: Int = 8,
                               multiProbe: Boolean = true, scale: Int = 6): DataFrame = {
    val qb = queryVectors(queries, qIdCol, qVecCol)
      .withColumn("_qb", lshBucket(col("_qv"), dim, nBits))
    val probed = hammingProbesPerQuery(qb, nBits, multiProbe)
      .withColumn("_qq", graft.functions.VectorFunctions.quantizeInt8(col("_qv"))
        .getField("q").cast("array<double>"))
      .select(col("q_id"), col("_qq").as("_qv"), norm(col("_qq")).as("_qn"),
        concat(lit("b"), col("_pb")).as("_pb"))
    val index = spark.read.parquet(s"$path/data")
    requireIntegralId(index, idCol, "lshIndexQuantizedKnnJoin")
    batchProbe(index, idCol, "bucket", probed, "_pb",
      withNorm(col("q").cast("array<double>")),
      cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
      k, scale, "qcos_sim")
  }

  // ──────────────────── Product quantization (PQ) ────────────────────
  // The third compression rung of the ANN family, beside float and int8:
  // PQ (Jégou et al. '11, "Product Quantization for Nearest Neighbor
  // Search") splits each vector into m subvectors, snaps each to its
  // nearest codeword from a per-subspace codebook, and stores only the m
  // SMALL INTS — at dim=64/m=4 a stored row shrinks from 64 doubles to 4
  // ints (~64×), and a probe scores candidates from a per-query lookup
  // table without touching a stored float. At 100 TB of embeddings this
  // is the difference between an index that fits the page cache and one
  // that doesn't.

  /** Slice `nCodes` seed vectors into `m` per-subspace codebooks —
    * codeword c of subspace s is components [s·subDim, (s+1)·subDim) of
    * seed c. Seeds come from the md5-ordered corpus sample (the
    * [[ivfTopK]]/`ivfCentroids` convention), so codebooks are
    * reproducible across runs and engines with no RNG state.
    */
  private def pqCodebooks(seeds: Array[Array[Double]],
                          m: Int): Array[Array[Array[Double]]] = {
    require(seeds.nonEmpty, "PQ needs at least one seed vector")
    val dim = seeds.head.length
    require(m >= 1 && dim % m == 0,
      s"PQ: dim $dim must divide into m=$m equal subspaces")
    val sub = dim / m
    Array.tabulate(m)(s =>
      seeds.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)))
  }

  /** Driver-side per-query ADC lookup tables: `dots(s)(c)` = dot of the
    * query's subvector s with codeword (s, c); `norm2(s)(c)` = |codeword|²;
    * plus the query norm. Ascending-index loops — the same summation
    * order the DuckDB oracle's `list_dot_product` walks.
    */
  private def pqLut(cb: Array[Array[Array[Double]]], qv: Array[Double])
      : (Array[Array[Double]], Array[Array[Double]], Double) = {
    val m = cb.length
    val sub = cb(0)(0).length
    require(qv.length == m * sub,
      s"PQ query vector has ${qv.length} components, codebooks expect ${m * sub}")
    val dots = Array.tabulate(m) { s =>
      cb(s).map { w =>
        var d = 0.0; var j = 0
        while (j < sub) { d += qv(s * sub + j) * w(j); j += 1 }
        d
      }
    }
    val n2 = cb.map(_.map { w =>
      var t = 0.0; var j = 0
      while (j < w.length) { t += w(j) * w(j); j += 1 }
      t
    })
    var qq = 0.0
    var j = 0
    while (j < qv.length) { qq += qv(j) * qv(j); j += 1 }
    (dots, n2, math.sqrt(qq))
  }

  /** Lloyd-refine the PQ codebooks: each round re-encodes the corpus
    * under the current codebooks and replaces every codeword with the
    * mean of the subvectors assigned to it (k-means in each subspace,
    * all m subspaces in ONE job — posexplode the code array, slice the
    * matching subvector, one map-side-combined [[graft.functions
    * .VectorMean]] aggregation on (s, code): the shuffle carries
    * m·nCodes·subDim doubles per partition, never raw vectors). Empty
    * codewords keep their seeds, the [[ivfCentroids]] convention.
    * Refinement shrinks quantization error (spec-pinned non-increasing
    * on the fixture) but moves codewords off the deterministic seed
    * sample — the oracle-checked q100/q101/q103 paths run iters = 0,
    * exactly like the IVF queries do.
    */
  private def pqRefine(e: DataFrame, cb0: Array[Array[Array[Double]]],
                       iters: Int): Array[Array[Array[Double]]] = {
    var cb = cb0
    val sub = cb(0)(0).length
    var it = 0
    while (it < iters) {
      val means = e
        .select(col("_v"),
          graft.functions.VectorFunctions.pqEncode(col("_v"), cb).as("_codes"))
        .select(col("_v"), posexplode(col("_codes")).as(Seq("s", "code")))
        .select(col("s"), col("code"),
          expr(s"slice(_v, s * $sub + 1, $sub)").as("_sv"))
        .groupBy(col("s"), col("code"))
        .agg(graft.functions.VectorFunctions.vectorMean(col("_sv")).as("mv"))
        .collect() // bounded: at most m·nCodes rows
      val next = cb.map(_.map(_.clone()))
      means.foreach { r =>
        val mv = r.getSeq[Double](2)
        if (mv.nonEmpty) next(r.getInt(0))(r.getInt(1)) = mv.toArray
      }
      cb = next
      it += 1
    }
    cb
  }

  /** Mean squared quantization error of the corpus under `cb` — the
    * quantity [[pqRefine]] descends; exposed for audits and the
    * refinement spec. One aggregation job.
    */
  def pqQuantizationError(emb: DataFrame, vecCol: String,
                          cb: Array[Array[Array[Double]]]): Double = {
    val sub = cb(0)(0).length
    val cbB = cb // stable reference for the closure-free expressions
    val e = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(asDouble(col(vecCol)).as("_v"))
    val recon = e
      .select(col("_v"),
        graft.functions.VectorFunctions.pqEncode(col("_v"), cbB).as("_codes"))
      .select(col("_v"), posexplode(col("_codes")).as(Seq("s", "code")))
      .select(expr(s"slice(_v, s * $sub + 1, $sub)").as("_sv"),
        col("s"), col("code"))
    val spark = emb.sparkSession
    import spark.implicits._
    val cwDf = cbB.zipWithIndex.flatMap { case (ws, s) =>
      ws.zipWithIndex.map { case (w, c) => (s, c, w.toSeq) }
    }.toSeq.toDF("s", "code", "_w")
    recon.join(broadcast(cwDf), Seq("s", "code"))
      .select(expr(
        "aggregate(zip_with(_sv, _w, (a, b) -> (a - b) * (a - b)), 0d, (x, y) -> x + y)")
        .as("_e2"))
      .agg(avg(col("_e2"))).head().getDouble(0)
  }

  /** PQ ANN top-k, in-memory form: codebooks seeded from the corpus
    * (md5-ordered sample, like [[ivfTopK]]'s centroids), every vector
    * encoded to m codes by the codegen'd [[graft.functions
    * .VectorFunctions.pqEncode]] projection, candidates scored by the
    * ADC lookup table ([[graft.functions.VectorFunctions.pqAdcScore]]).
    *
    * Plan shape at any scale: ONE bounded driver job (nCodes seed rows +
    * the query vector, tagged and unioned — the ivfTopK fetch), then
    * scan → encode → score → TakeOrderedAndProject. No shuffle, no join;
    * the LUT rides as a codegen reference object. `pq_score` is the ADC
    * approximation of cosine (query side exact, corpus side
    * reconstructed), deterministic end to end — the DuckDB oracle
    * rebuilds it bit-for-bit, so the approximation hash-checks like an
    * exact query (the q32/q39 convention). For a standing corpus use
    * [[buildPqIndex]]/[[pqIndexTopK]].
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int, m: Int = 4, nCodes: Int = 16,
             scale: Int = 6): DataFrame = {
    val e = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
    // ONE bounded driver job for both setup fetches (the ivfTopK shape)
    val seeded = e
      .select(col(idCol).as("_id"), col("_v"), md5(col(idCol).cast("string")).as("_h"))
      .orderBy(col("_h"), col("_id"))
      .limit(nCodes)
      .select(lit(0).as("_t"), col("_h"), col("_id").cast("long").as("_id"), col("_v"))
    val qrow = e.filter(col(idCol) === queryId)
      .select(lit(1).as("_t"), lit("").as("_h"), lit(0L).as("_id"), col("_v"))
    val setup = seeded.unionAll(qrow).collect()
    // numeric-id tiebreak, matching the distributed orderBy above and
    // the oracle's ROW_NUMBER ... ORDER BY h, vec_id (a string-keyed
    // sort would diverge from it on an md5 collision)
    val seeds = setup.filter(_.getInt(0) == 0)
      .sortBy(r => (r.getString(1), r.getLong(2)))
      .map(_.getSeq[Double](3).toArray)
    val qv = setup.find(_.getInt(0) == 1)
      .map(_.getSeq[Double](3).toArray)
      .getOrElse(throw new NoSuchElementException(s"query id $queryId not in corpus"))
    val cb = pqCodebooks(seeds, m)
    val (dots, n2, qn) = pqLut(cb, qv)
    e.select(col(idCol),
        graft.functions.VectorFunctions.pqEncode(col("_v"), cb).as("_codes"))
      .select(col(idCol),
        round(graft.functions.VectorFunctions.pqAdcScore(col("_codes"), dots, n2, qn),
          scale).as("pq_score"))
      .orderBy(col("pq_score").desc, col(idCol))
      .limit(k)
  }

  /** Codeword norms² per (subspace, code) — query-independent, so batch
    * joins compute them once and ride them as a codegen constant.
    */
  private def pqNorm2(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map { w =>
      var t = 0.0; var j = 0
      while (j < w.length) { t += w(j) * w(j); j += 1 }
      t
    })

  /** ONE bounded driver fetch of a persisted codebook table
    * ([[buildPqIndex]]/[[buildIvfPqIndex]] layout): m·nCodes rows by
    * construction. `private[graft]` so the streaming PQ sinks (and
    * specs) decode against the same layout reader instead of a copy
    * that could drift.
    */
  private[graft] def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select(col("s"), col("code"), col("w")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val nCodes = rows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, nCodes)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    cb
  }

  /** Persist codebooks as the (s, code, w) table [[readCodebooks]] reads. */
  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             cb: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (words, s) =>
        words.zipWithIndex.map { case (w, c) => (s, c, w.toSeq) }
      }.toSeq.toDF("s", "code", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** The probe side shared by the PQ batch joins: (q_id, _qv, _lut, _qn)
    * — per-query ADC lookup table and query norm computed ONCE per query
    * row as codegen'd projections ([[graft.functions.VectorFunctions
    * .pqQueryLut]]), before the broadcast, so each (query, corpus) pair
    * downstream costs m array probes instead of an O(dim) dot product.
    */
  private def pqProbeSide(queries: DataFrame, qIdCol: String, qVecCol: String,
                          cb: Array[Array[Array[Double]]]): DataFrame =
    queries.select(col(qIdCol).as("q_id"), asDouble(col(qVecCol)).as("_qv"))
      .withColumn("_lut", graft.functions.VectorFunctions.pqQueryLut(col("_qv"), cb))
      .withColumn("_qn", norm(col("_qv")))

  /** Batch PQ ANN — the k-NN-join form of [[pqTopK]], completing the
    * {PQ} × {batch-join} cell of the layout×storage matrix: top-k corpus
    * neighbours for EVERY query row, scored by ADC from the m-int codes.
    * Codebooks are the same deterministic md5-ordered seed sample as
    * [[pqTopK]], so point probes and batch joins agree exactly and the
    * DuckDB oracle hash-checks the approximation like an exact query.
    *
    * Plan shape: one bounded driver job (nCodes seed rows), one corpus
    * scan encoding each vector to m codes, the query side BROADCAST with
    * its per-query LUT precomputed (m·nCodes doubles per query — the
    * [[pqProbeSide]] projection), every (corpus, query) pair scored at m
    * array probes, then the bounded per-query top-k aggregation. Like
    * [[bruteKnnJoin]] this scores the WHOLE corpus per query (flat PQ
    * has no cells to prune — [[ivfPqIndexKnnJoin]] is the pruned form),
    * so it is the right tool for a BOUNDED query set; the win over brute
    * is m probes versus an O(dim) dot per pair, and m ints versus dim
    * doubles of corpus bytes in flight.
    */
  def pqKnnJoin(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String,
                qIdCol: String, qVecCol: String,
                k: Int, m: Int = 4, nCodes: Int = 16,
                scale: Int = 6): DataFrame = {
    requireIntegralId(corpus, idCol, "pqKnnJoin")
    val e = corpus.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val cb = pqCodebooks(md5Seeds(e, idCol, "_v", nCodes), m)
    val n2 = pqNorm2(cb)
    val probed = pqProbeSide(queries, qIdCol, qVecCol, cb)
      .select(col("q_id"), col("_lut"), col("_qn"))
    val scored = e
      .select(col(idCol), graft.functions.VectorFunctions.pqEncode(col("_v"), cb).as("_codes"))
      .crossJoin(broadcast(probed))
      .select(col("q_id"), col(idCol),
        round(graft.functions.VectorFunctions.pqAdcScoreBatch(
          col("_codes"), col("_lut"), col("_qn"), n2), scale).as("cos_sim"))
    topKPerQuery(scored, idCol, k).withColumnRenamed("cos_sim", "pq_score")
  }

  /** Build a PQ index at `path`:
    *   `path/codebooks` — (s, code, w), m·nCodes rows;
    *   `path/data`      — (id, codes: array<int>), the WHOLE compression
    *                      story: m ints per corpus vector.
    * Same md5-ordered deterministic seeding as [[pqTopK]], so a probe of
    * the persisted layout returns exactly the in-memory op's results.
    *
    * `kmeansIters` defaults to 0 (raw md5-sampled seeds) — measured
    * justification in BASELINE.md's ANN recall surface: Lloyd rounds
    * gain +0.06–0.08 recall@10 at nCodes ≥ 256 (set 3 there) but COST
    * ~0.02 at nCodes = 16, for ~2× build time either way.
    *
    * ⚠ AT CORPUS SCALE USE [[buildIvfPqIndexScale]] INSTEAD: the
    * 200k×64 recall surface showed every GLOBAL-codebook PQ config —
    * this layout at any m/nCodes, rerank included — collapsing on
    * within-cluster ranking (recall 0.039–0.523); only residual IVF-PQ
    * with cells ≈ clusters held (0.999). This flat layout remains
    * right for SMALL corpora (≲ tens of thousands of vectors per
    * natural cluster scale), where it measures at parity.
    */
  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String, path: String,
                   m: Int = 4, nCodes: Int = 16, kmeansIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    val e = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val cb = pqRefine(e, pqCodebooks(md5Seeds(e, idCol, "_v", nCodes), m),
      kmeansIters)
    writeCodebooks(spark, cb, path)
    writeIndexMeta(spark, path, Seq("layout" -> "pq",
      "m" -> m.toString, "n_codes" -> nCodes.toString,
      "kmeans_iters" -> kmeansIters.toString))
    e.select(col(idCol),
        graft.functions.VectorFunctions.pqEncode(col("_v"), cb).as("codes"))
      .write.mode("overwrite").parquet(s"$path/data")
  }

  /** Build an IVF-PQ index at `path` — the cell-partitioned layout with
    * PQ-code storage, completing the layout×storage matrix
    * ({IVF cells} × {float, int8, PQ codes}):
    *   `path/centroids` — the IVF coarse quantizer (nCells rows);
    *   `path/codebooks` — the PQ codebooks (m·nCodes rows);
    *   `path/data`      — (id, codes: array<int>), PARTITIONED BY cell.
    * A probe prunes non-probed cell DIRECTORIES at file-listing time
    * (the [[ivfIndexTopK]] property) and then reads m ints per surviving
    * row (the [[pqIndexTopK]] property) — at 100 TB of embeddings the
    * probed bytes shrink by nProbe/nCells × ~64× versus a flat float
    * scan. Cell assignment and codebooks both come from the
    * full-precision vectors and the same md5-ordered deterministic
    * sample (the engine's quantize-after-placing convention, like
    * [[buildIvfIndexQuantized]]).
    *
    * `residual = false` (default) encodes the RAW vector — one global
    * codebook, one ADC table per query, the simplest oracle.
    * `residual = true` is classic IVF-PQ: codes encode `v −
    * centroid[cell]`, so the codebook budget describes within-cell
    * variation instead of re-describing cluster positions, at the cost
    * of coupling every code to its cell (probes score the exact cosine
    * against `centroid + decode(codes)` via the disjoint-support
    * identity `|c+w|² = |c|² + 2·c·w + |w|²`; lookup tables stay
    * bounded at nCells·m·nCodes doubles; the layout carries a `meta`
    * marker probes switch on).
    *
    * Measured honestly (BASELINE.md recall surface): at SMALL scale
    * (2k, clusters of 40) residual is parity at best — with raw md5
    * seeds and a tiny codebook it is WORSE (codewords are then
    * arbitrary noise samples), and with Lloyd refinement both encodings
    * collapse to the same cluster-identification rank. AT SCALE the
    * verdict flips (200k, clusters of 4k — BASELINE.md "recall at
    * scale"): every global-codebook config collapses on the
    * within-cluster ranking problem (rerank recall 0.039–0.523), while
    * residual encoding with nCells ≈ cluster count and a real code
    * budget (nCells=64, m=16, nCodes=256, kmeansIters=3) restores
    * 0.999 rerank recall at kCand=100 — once each cell holds ONE
    * cluster, the residual is pure within-cluster signal and the
    * codebook finally spends its budget on exactly what needs ranking.
    * Measure on YOUR corpus (`AnnRecallBench` runs both encodings side
    * by side) before paying the per-cell coupling.
    *
    * The defaults here (raw, m=4, nCodes=16) are the SMALL-corpus /
    * oracle-checkable configuration. A corpus-scale deployment should
    * not assemble the scale recipe by hand — call
    * [[buildIvfPqIndexScale]], which bakes it.
    */
  def buildIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String, path: String,
                      nCells: Int = 16, m: Int = 4, nCodes: Int = 16,
                      kmeansIters: Int = 0, residual: Boolean = false): Unit = {
    val spark = emb.sparkSession
    val clean = emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val e = clean.select(col(idCol), asDouble(col(vecCol)).as("_v"))
    val centroids = ivfCentroids(e, idCol, nCells, kmeansIters)
    writeCentroids(spark, centroids, path)
    // in residual mode the quantized quantity is v − centroid[cell] —
    // seeds, refinement and codes all operate on residuals, so the
    // codebooks spend their budget on WITHIN-cell variation (the part
    // the centroid doesn't already carry). See the object doc for the
    // measured recall comparison against raw encoding.
    val enc =
      if (residual)
        e.withColumn("cell",
            graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids))
          .withColumn("_r", graft.functions.VectorFunctions.centroidResidual(
            col("_v"), col("cell"), centroids))
      else e
    val encCol = if (residual) "_r" else "_v"
    val cb = pqRefine(enc.select(col(encCol).as("_v")),
      pqCodebooks(md5Seeds(enc, idCol, encCol, nCodes), m), kmeansIters)
    writeCodebooks(spark, cb, path)
    // the `encoding` entry is the marker probes switch scoring on
    writeIndexMeta(spark, path, Seq("layout" -> "ivf_pq",
      "encoding" -> (if (residual) "residual" else "raw"),
      "n_cells" -> nCells.toString, "m" -> m.toString,
      "n_codes" -> nCodes.toString, "kmeans_iters" -> kmeansIters.toString))
    if (residual) {
      enc.select(col(idCol),
          graft.functions.VectorFunctions.pqEncode(col("_r"), cb).as("codes"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    } else {
      e.select(col(idCol),
          graft.functions.VectorFunctions.pqEncode(col("_v"), cb).as("codes"),
          graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids).as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/data")
    }
  }

  /** The ONE constructor a corpus-scale (100 TB) deployment calls —
    * [[buildIvfPqIndex]] with the measured scale recipe baked in:
    * residual encoding, m = 16 subspaces, nCodes = 256, 3 Lloyd
    * rounds. The only decision left to the caller is `nCells`, and the
    * rule is CELLS ≈ EXPECTED CLUSTER COUNT (≈ corpus_size / natural
    * cluster size): once each cell holds one cluster, the residual is
    * pure within-cluster signal and the codebook budget ranks exactly
    * what the probe needs ranked. Evidence (BASELINE.md "recall at
    * scale", 200k×64, clusters of ~50): this configuration holds
    * 0.999 rerank recall at 9.4% probed and 8× compression while every
    * global-codebook alternative collapses to 0.039–0.523; asserted
    * every AnnRecallBench run. Query through
    * [[ivfPqIndexKnnJoinRerank]] (kCand ≈ 100) / [[ivfPqIndexTopK]];
    * maintain with the `rebuild` task like any frozen-geometry layout.
    */
  def buildIvfPqIndexScale(emb: DataFrame, idCol: String, vecCol: String,
                           path: String, nCells: Int, m: Int = 16,
                           nCodes: Int = 256, kmeansIters: Int = 3): Unit =
    buildIvfPqIndex(emb, idCol, vecCol, path, nCells, m, nCodes,
      kmeansIters, residual = true)

  /** Persist the layout's build parameters as a tiny key/value parquet
    * at `path/meta` (one row per parameter) — written by every IVF/PQ
    * builder so audits ([[ivfRebuildDrift]]) and rebuilds re-derive the
    * SAME geometry the build used instead of trusting the caller to
    * remember `kmeansIters` & co.
    *
    * The write is staged: the new table lands COMPLETE at
    * `path/meta_tmp` first, then swaps over `meta` (delete + rename).
    * A `mode("overwrite")` write directly to `meta` would delete the old
    * table before the new job commits — a crash inside the job would
    * leave the layout meta-LESS for its whole duration, which downgrades
    * every meta-gated check (reband tombstones, sink-start geometry).
    * With staging, the only meta-absent window is between the delete
    * and the rename, and the complete staged copy survives it —
    * [[readIndexMeta]] finishes that swap on the next read.
    */
  private[graft] def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                                    path: String,
                                    entries: Seq[(String, String)]): Unit = {
    import spark.implicits._
    entries.toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_tmp")
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/meta_tmp")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(meta)) require(fs.delete(meta, true),
      s"meta write aborted: could not delete the old $meta (new meta " +
        s"staged complete at $tmp)")
    require(fs.rename(tmp, meta),
      s"meta write interrupted: could not rename $tmp -> $meta; the " +
        "staged copy is complete — re-run, or readIndexMeta will finish " +
        "the swap on the next read")
  }

  /** Bounded read of a layout's `meta` parameter table; empty for a
    * layout with no meta. A pre-key/value layout (the old residual-only
    * marker, whose single column was `encoding`) reads as
    * `encoding → residual` — existence WAS the marker then.
    *
    * Self-healing: a crash between [[writeIndexMeta]]'s delete and
    * rename leaves `meta` absent but the COMPLETE new table (job
    * `_SUCCESS` marker) at `meta_tmp` — the read finishes that swap
    * instead of reporting the layout meta-less. A half-written
    * `meta_tmp` (no `_SUCCESS`) is ignored: the old meta is still live
    * in that window.
    */
  private[graft] def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$path/meta_tmp")
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
        // best-effort: a concurrent reader may win the rename — either
        // way meta exists afterwards if any racer succeeded
        fs.rename(tmp, p)
      }
    }
    if (!fs.exists(p))
      Map.empty
    else {
      val df = spark.read.parquet(s"$path/meta")
      if (df.columns.contains("key"))
        df.select(col("key"), col("value")).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      else Map("encoding" -> "residual")
    }
  }

  /** [[readIndexMeta]] behind the layout guard the frozen-model readers
    * and gate sinks share: fail fast unless `path` carries `layout`.
    */
  private[graft] def requireLayout(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   layout: String): Map[String, String] = {
    val meta = readIndexMeta(spark, path)
    val article = if ("aeiou".contains(layout.head)) "an" else "a"
    require(meta.get("layout").contains(layout),
      s"not $article $layout layout: $path (meta ${meta.get("layout")})")
    meta
  }

  /** Does the IVF-PQ layout at `path` carry the residual-encoding
    * marker? One bounded meta read.
    */
  private[graft] def isResidualIndex(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Boolean =
    readIndexMeta(spark, path).get("encoding").contains("residual")

  /** The query-independent residual-scoring tables: codeword norms²,
    * per-cell centroid·codeword dots, centroid norms² — bounded
    * (nCells · m · nCodes doubles), computed once per probe.
    */
  private def residualTables(cb: Array[Array[Array[Double]]],
                             cents: Array[Array[Double]])
      : (Array[Array[Double]], Array[Array[Array[Double]]], Array[Double]) = {
    val sub = cb(0)(0).length
    val n2 = pqNorm2(cb)
    val cd = cents.map { ct =>
      cb.zipWithIndex.map { case (words, s) =>
        words.map { w =>
          var d = 0.0; var j = 0
          while (j < sub) { d += ct(s * sub + j) * w(j); j += 1 }
          d
        }
      }
    }
    val cn2 = cents.map { ct =>
      var t = 0.0; var j = 0
      while (j < ct.length) { t += ct(j) * ct(j); j += 1 }
      t
    }
    (n2, cd, cn2)
  }

  /** Top-k over an IVF-PQ index ([[buildIvfPqIndex]]): bounded driver
    * reads for both small tables (centroids → probe cells, codebooks →
    * ADC LUT), then ONE scan that prunes non-probed cell directories via
    * PartitionFilters and reads only (id, codes) from the survivors,
    * scored by the codegen'd ADC projection into TakeOrderedAndProject.
    * Zero joins, zero shuffles. Scores are identical to [[pqIndexTopK]]
    * over the same codebooks — the cells change WHICH rows are scored,
    * never how.
    */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String, queryVec: Array[Double],
                     k: Int, nProbe: Int = 3, scale: Int = 6): DataFrame = {
    val cents = readCentroidMatrix(spark, path)
    val probes = nearestCells(cents, queryVec, nProbe)
    val cb = readCodebooks(spark, path)
    val scan = spark.read.parquet(s"$path/data")
      .filter(col("cell").isin(probes.toIndexedSeq: _*))
    val scored =
      if (isResidualIndex(spark, path)) {
        // residual layout: score against centroid + decode(codes); the
        // packed per-query setup is a driver-built literal here
        val (n2, cd, cn2) = residualTables(cb, cents)
        val lutPlus = org.apache.spark.sql.graft.PqResidualQueryLut
          .computeArray(cb, cents, queryVec)
        scan.select(col(idCol),
          round(graft.functions.VectorFunctions.pqAdcResidualScore(
            col("codes"), col("cell").cast("int"),
            typedLit(lutPlus.toSeq), n2, cd, cn2), scale).as("pq_score"))
      } else {
        val (dots, n2, qn) = pqLut(cb, queryVec)
        scan.select(col(idCol),
          round(graft.functions.VectorFunctions.pqAdcScore(col("codes"), dots, n2, qn),
            scale).as("pq_score"))
      }
    scored
      .orderBy(col("pq_score").desc, col(idCol))
      .limit(k)
  }

  /** Top-k over a persisted PQ index ([[buildPqIndex]]): the codebooks
    * (m·nCodes rows, bounded by construction) come to the driver, the
    * per-query LUT is computed there, and the single data scan reads
    * ONLY (id, codes) — m ints per row, never a stored float — scored by
    * the codegen'd ADC projection into a TakeOrderedAndProject. Zero
    * joins, zero shuffles.
    */
  def pqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                  idCol: String, queryVec: Array[Double],
                  k: Int, scale: Int = 6): DataFrame = {
    val cb = readCodebooks(spark, path)
    val (dots, n2, qn) = pqLut(cb, queryVec)
    spark.read.parquet(s"$path/data")
      .select(col(idCol),
        round(graft.functions.VectorFunctions.pqAdcScore(col("codes"), dots, n2, qn),
          scale).as("pq_score"))
      .orderBy(col("pq_score").desc, col(idCol))
      .limit(k)
  }

  /** PQ probe + EXACT rerank — the two-stage retrieval the measured
    * recall surface says PQ is for (BASELINE.md "ANN recall-vs-cost":
    * at 64–128× compression, ADC rank tops out near 0.5 recall@10 — a
    * CANDIDATE GENERATOR, not a final ranker). Stage 1 is
    * [[pqIndexTopK]]'s code-only scan cut at `kCand`; stage 2 fetches
    * ONLY those kCand rows' float vectors from `corpus` (the id IN-list
    * pushes into the corpus scan) and ranks them by exact cosine.
    *
    * Plan shape at any scale: the full-corpus pass still reads m ints
    * per row (the PQ property); the expensive float read touches kCand
    * rows — independent of corpus size. One bounded driver action
    * (kCand ids) between the stages. Recall is now limited only by
    * stage-1 MISSES (a true neighbour outside the kCand cut); the
    * rerank itself is exact.
    *
    * SIZE kCand TO THE CODEBOOK'S RESOLUTION, not to k (measured at
    * 200k vectors — BASELINE.md "recall at scale"): when the corpus has
    * more near-duplicate-scoring rows than kCand (e.g. a tight cluster
    * of 4k rows under a 16-codeword budget, where ADC collapses to
    * cluster identification), the deterministic id tiebreak fills the
    * cut with arbitrary clustermates and recall collapses (0.039
    * measured). Fixes, in measured order: widening kCand past the tie
    * multiplicity recovers 0.996 but pays a wide top-k cut (~4 min at
    * kCand=8000×100 queries); GLOBAL codebooks cannot buy it back
    * (0.233/0.330/0.523 at m=4/8/16 with nCodes=256+ki=3 — their
    * codewords chase cluster centers, not within-cluster noise); the
    * scale-correct recipe is residual IVF-PQ with nCells ≈ cluster
    * count and a real code budget ([[buildIvfPqIndex]] residual=true,
    * nCells=64/m=16/nCodes=256/ki=3 → 0.999 at kCand=100, 9.4% probed,
    * 8× compression). All arms in AnnRecallBench's scale phase.
    */
  def pqIndexTopKRerank(spark: org.apache.spark.sql.SparkSession, path: String,
                        corpus: DataFrame, idCol: String, vecCol: String,
                        queryVec: Array[Double], k: Int, kCand: Int = 100,
                        scale: Int = 6): DataFrame = {
    // bounded: kCand rows; ids carried as Any so every integral id
    // type the index family admits works (an int id would CCE a getLong)
    val ids = pqIndexTopK(spark, path, idCol, queryVec, kCand)
      .select(col(idCol)).collect().map(_.get(0))
    pointProbe(corpus.filter(col(idCol).isin(ids.toIndexedSeq: _*)),
      idCol, asDouble(col(vecCol)), queryVec, k, scale, "cos_sim")
  }

  /** Batch PQ probe + exact rerank — [[pqIndexTopKRerank]]'s k-NN-join
    * form: stage 1 is [[pqIndexKnnJoin]] cut at `kCand` per query
    * (bounded: queries × kCand rows, never collected); stage 2
    * broadcasts that candidate set into ONE equi-join against `corpus`
    * (the float fetch touches only candidate rows — corpus never
    * shuffles), re-attaches each query's vector from the broadcast
    * query side, and ranks by exact cosine into the bounded
    * [[graft.functions.TopKAgg]] per-query top-k.
    */
  def pqIndexKnnJoinRerank(spark: org.apache.spark.sql.SparkSession, path: String,
                           corpus: DataFrame, idCol: String, vecCol: String,
                           queries: DataFrame, qIdCol: String, qVecCol: String,
                           k: Int, kCand: Int = 100, scale: Int = 6): DataFrame = {
    val cands = pqIndexKnnJoin(spark, path, idCol, queries, qIdCol, qVecCol, kCand)
      .select(col("q_id"), col(idCol))
    exactRerank(corpus, idCol, vecCol, cands,
      queryVectors(queries, qIdCol, qVecCol), k, scale)
  }

  /** IVF-PQ probe + exact rerank — the composed best case of the whole
    * ladder per probed byte: stage 1 is [[ivfPqIndexKnnJoin]] cut at
    * `kCand` per query (cell-directory pruning × m-int code rows —
    * probed bytes ≈ nProbe/nCells × ~1/64 of a flat float join), stage 2
    * is [[pqIndexKnnJoinRerank]]'s bounded float fetch: the candidate
    * set broadcasts into ONE equi-join against `corpus` (kCand rows per
    * query regardless of corpus size) and exact cosine ranks the final
    * top-k. Works over raw and residual layouts alike — stage 1 only
    * proposes, stage 2 is exact either way, so the encoding choice
    * moves recall only through which candidates survive the cut.
    */
  def ivfPqIndexKnnJoinRerank(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              corpus: DataFrame, idCol: String, vecCol: String,
                              queries: DataFrame, qIdCol: String, qVecCol: String,
                              k: Int, kCand: Int = 100, nProbe: Int = 3,
                              scale: Int = 6): DataFrame = {
    val cands = ivfPqIndexKnnJoin(spark, path, idCol,
        queries, qIdCol, qVecCol, kCand, nProbe)
      .select(col("q_id"), col(idCol))
    exactRerank(corpus, idCol, vecCol, cands,
      queryVectors(queries, qIdCol, qVecCol), k, scale)
  }

  /** Batch probes against a persisted PQ index ([[buildPqIndex]]): the
    * k-NN-join form of [[pqIndexTopK]]. Codebooks are ONE bounded driver
    * fetch (m·nCodes rows); the probe side is broadcast with its
    * per-query ADC LUT precomputed ([[pqProbeSide]]); the single data
    * scan reads ONLY (id, codes) — m ints per corpus row, never a stored
    * float — and each (corpus, query) pair costs m array probes. Flat PQ
    * scores the whole corpus per query ([[ivfPqIndexKnnJoin]] is the
    * cell-pruned form), so this serves BOUNDED query sets: eval-suite
    * decontamination sweeps, recall-audit samples.
    */
  def pqIndexKnnJoin(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int, scale: Int = 6): DataFrame = {
    val cb = readCodebooks(spark, path)
    val n2 = pqNorm2(cb)
    val probed = pqProbeSide(queries, qIdCol, qVecCol, cb)
      .select(col("q_id"), col("_lut"), col("_qn"))
    val index = spark.read.parquet(s"$path/data")
    requireIntegralId(index, idCol, "pqIndexKnnJoin")
    val scored = index.crossJoin(broadcast(probed))
      .select(col("q_id"), col(idCol),
        round(graft.functions.VectorFunctions.pqAdcScoreBatch(
          col("codes"), col("_lut"), col("_qn"), n2), scale).as("cos_sim"))
    topKPerQuery(scored, idCol, k).withColumnRenamed("cos_sim", "pq_score")
  }

  /** Batch probes against an IVF-PQ index ([[buildIvfPqIndex]]) — the
    * join that completes the layout×storage matrix: [[ivfIndexKnnJoin]]'s
    * cell pruning over [[pqIndexKnnJoin]]'s code-only scan. Centroids and
    * codebooks are two bounded driver fetches; per-query probe cells AND
    * the per-query ADC LUT are zero-shuffle projections on the broadcast
    * probe side; then ONE equi-join on the `cell` partition column, so
    * the scan prunes non-probed cell directories via dynamic partition
    * pruning (non-file-backed probe sides self-repair to a static
    * IN-list, [[repairPartitionPruning]]) and reads m ints per surviving
    * row. Per batch at 100 TB: probed bytes ≈ nProbe/nCells × ~1/64 of a
    * flat float scan — the product of both layouts' savings. Bounded
    * per-query top-k via [[graft.functions.TopKAgg]], never a window.
    * Scores are identical to [[ivfPqIndexTopK]] point probes over the
    * same index — the cells change WHICH rows are scored, never how.
    */
  def ivfPqIndexKnnJoin(spark: org.apache.spark.sql.SparkSession, path: String,
                        idCol: String,
                        queries: DataFrame, qIdCol: String, qVecCol: String,
                        k: Int, nProbe: Int = 3, scale: Int = 6): DataFrame = {
    val cents = readCentroidMatrix(spark, path) // bounded: nCells rows
    val cb = readCodebooks(spark, path)
    val index = spark.read.parquet(s"$path/data")
    requireIntegralId(index, idCol, "ivfPqIndexKnnJoin")
    if (isResidualIndex(spark, path)) {
      // residual layout: the packed per-query setup (LUT ++ centroid
      // dots ++ |q|) is ONE projected column on the broadcast probe side
      val (n2, cd, cn2) = residualTables(cb, cents)
      val probed = queries
        .select(col(qIdCol).as("q_id"), asDouble(col(qVecCol)).as("_qv"))
        .withColumn("_lutp", graft.functions.VectorFunctions.pqResidualQueryLut(
          col("_qv"), cb, cents))
        .withColumn("_probe", explode(
          graft.functions.VectorFunctions.nearestCentroids(col("_qv"), cents, nProbe)))
        .select(col("q_id"), col("_lutp"), col("_probe"))
      batchProbe(index, idCol, "cell", probed, "_probe", identity,
        graft.functions.VectorFunctions.pqAdcResidualScore(
          col("codes"), col("cell").cast("int"), col("_lutp"), n2, cd, cn2),
        k, scale, "pq_score")
    } else {
      val n2 = pqNorm2(cb)
      val probed = pqProbeSide(queries, qIdCol, qVecCol, cb)
        .withColumn("_probe", explode(
          graft.functions.VectorFunctions.nearestCentroids(col("_qv"), cents, nProbe)))
        .select(col("q_id"), col("_lut"), col("_qn"), col("_probe"))
      batchProbe(index, idCol, "cell", probed, "_probe", identity,
        graft.functions.VectorFunctions.pqAdcScoreBatch(
          col("codes"), col("_lut"), col("_qn"), n2),
        k, scale, "pq_score")
    }
  }

  /** The batch probe of the partitioned layouts: the `project`ed index
    * equi-joins the BROADCAST probe side on `partCol` = `probeCol` (DPP,
    * or the [[repairPartitionPruning]] IN-list, prunes directories), and
    * the rounded `score` ranks the per-query top-k as `scoreName`.
    */
  private def batchProbe(index: DataFrame, idCol: String, partCol: String,
                         probed: DataFrame, probeCol: String,
                         project: DataFrame => DataFrame, score: Column,
                         k: Int, scale: Int, scoreName: String): DataFrame = {
    def joinWith(idx: DataFrame): DataFrame =
      project(idx).join(broadcast(probed), col(partCol) === col(probeCol))
        .select(col("q_id"), col(idCol), round(score, scale).as("cos_sim"))
    topKPerQuery(
      repairPartitionPruning(index, partCol, probed, probeCol, joinWith), idCol, k)
      .withColumnRenamed("cos_sim", scoreName)
  }

  /** Cosine batch probes' index side: stored vector `v` as `_v`, norm `_vn`. */
  private def withNorm(v: Column)(idx: DataFrame): DataFrame =
    idx.withColumn("_v", v).withColumn("_vn", norm(col("_v")))

  /** Dynamic-partition-pruning self-repair for the persisted-index k-NN
    * joins. Spark's PartitionPruning rule inserts the pruning subquery
    * only when the probe side is a file-backed scan with a surviving
    * selective Filter: a `Seq(...).toDF` probe set collapses to a
    * LocalRelation (its filters constant-fold away) and the index scan
    * would silently read EVERY partition directory — correct, but the
    * opposite of what the layout is for. So: build the join, and if the
    * optimized plan carries no DynamicPruningSubquery, enumerate the
    * distinct probe keys on the driver (bounded: ≤ queries ×
    * probes-per-query, capped at `maxEnum`) and pin them as a static
    * `isin` on the partition column — the same directory pruning, as
    * PartitionFilters instead of dynamicpruning. Above the cap the join
    * is returned as-is (still correct): a probe set that large should be
    * file-backed, which is exactly the case DPP already handles.
    */
  private def repairPartitionPruning(
      index: DataFrame, partCol: String,
      probed: DataFrame, probeCol: String,
      join: DataFrame => DataFrame, maxEnum: Int = 4096): DataFrame = {
    val candidate = join(index)
    val pruned = candidate.queryExecution.optimizedPlan.exists(p =>
      p.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery])))
    if (pruned) candidate
    else {
      val keys = probed.select(col(probeCol)).distinct()
        .limit(maxEnum + 1).collect().map(_.get(0))
      if (keys.length > maxEnum) candidate
      else join(index.filter(col(partCol).isin(keys.toIndexedSeq: _*)))
    }
  }

  /** Batch probes against a persisted LSH index ([[buildLshIndex]]):
    * the k-NN join where the corpus side is the bucket-partitioned
    * layout. Probe buckets are computed per query as a projection and
    * BROADCAST into the join, so the scan side prunes partition
    * directories via dynamic partition pruning — the non-probed fraction
    * of the index is never read, per batch, without any driver-side
    * probe enumeration. When the probe side cannot trigger DPP (e.g. a
    * local in-memory query set) the pruning self-repairs to a static
    * probe IN-list ([[repairPartitionPruning]]). The standing-corpus
    * form of [[lshKnnJoin]].
    */
  def lshIndexKnnJoin(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, vecCol: String,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      k: Int, dim: Int, nBits: Int = 8,
                      multiProbe: Boolean = true, scale: Int = 6): DataFrame = {
    val qb = queryVectors(queries, qIdCol, qVecCol)
      .withColumn("_qb", lshBucket(col("_qv"), dim, nBits))
    // the on-disk partition values carry the 'b' prefix (anti type
    // inference); broadcast is mandatory here — it is what lets the scan
    // prune partitions dynamically
    val probed = hammingProbesPerQuery(qb, nBits, multiProbe)
      .select(col("q_id"), col("_qv"), col("_qn"),
        concat(lit("b"), col("_pb")).as("_pb"))
    val index = spark.read.parquet(s"$path/data")
    requireIntegralId(index, idCol, "lshIndexKnnJoin")
    batchProbe(index, idCol, "bucket", probed, "_pb",
      withNorm(asDouble(col(vecCol))),
      cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
      k, scale, "cos_sim")
  }

  /** Batch probes against a persisted IVF index ([[buildIvfIndex]]): the
    * cell-partitioned twin of [[lshIndexKnnJoin]], serving [[ivfKnnJoin]]
    * (q54)'s shape from the standing layout. Centroids are ONE bounded
    * driver fetch (nCells rows from `path/centroids`); per-query probe
    * cells are a zero-shuffle projection ([[graft.functions
    * .VectorFunctions.nearestCentroids]] exploded, q_id carried); then
    * ONE equi-join on the `cell` partition column with the probe side
    * broadcast, so the index scan prunes non-probed cell directories via
    * dynamic partition pruning — per batch, only ≈ nProbe/nCells of the
    * data on disk is read. Non-file-backed probe sides self-repair to a
    * static cell IN-list ([[repairPartitionPruning]]). Bounded
    * per-query top-k via [[graft.functions.TopKAgg]] — never a window.
    */
  def ivfIndexKnnJoin(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, vecCol: String,
                      queries: DataFrame, qIdCol: String, qVecCol: String,
                      k: Int, nProbe: Int = 3, scale: Int = 6): DataFrame = {
    val cents = readCentroidMatrix(spark, path) // bounded: nCells rows
    val probed = queryVectors(queries, qIdCol, qVecCol)
      .withColumn("_probe", explode(
        graft.functions.VectorFunctions.nearestCentroids(col("_qv"), cents, nProbe)))
    val index = spark.read.parquet(s"$path/data")
    requireIntegralId(index, idCol, "ivfIndexKnnJoin")
    batchProbe(index, idCol, "cell", probed, "_probe",
      withNorm(asDouble(col(vecCol))),
      cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
      k, scale, "cos_sim")
  }

  /** Batch probes against a QUANTIZED persisted IVF index
    * ([[buildIvfIndexQuantized]]): [[ivfIndexKnnJoin]]'s shape served
    * from the int8 layout — the scan reads (id, scale, q) byte arrays,
    * 4× narrower than the float index, which is where the quantization
    * pays per batch. Probe-cell selection uses the FULL-precision query
    * vector (matching the build side, which assigns cells before
    * quantizing — identical geometry), while ranks are scale-free
    * quantized cosine between the stored byte arrays and the
    * identically-quantized query (the q59 rank, so point probes and
    * batch joins agree). Same DPP-or-static-IN-list pruning and bounded
    * [[graft.functions.TopKAgg]] per-query top-k as the float join.
    */
  def ivfIndexQuantizedKnnJoin(spark: org.apache.spark.sql.SparkSession,
                               path: String, idCol: String,
                               queries: DataFrame, qIdCol: String, qVecCol: String,
                               k: Int, nProbe: Int = 3, scale: Int = 6): DataFrame = {
    val cents = readCentroidMatrix(spark, path) // bounded: nCells rows
    val probed = queries
      .select(col(qIdCol).as("q_id"), asDouble(col(qVecCol)).as("_qv"))
      .withColumn("_qq", graft.functions.VectorFunctions.quantizeInt8(col("_qv"))
        .getField("q").cast("array<double>"))
      .withColumn("_probe", explode(
        graft.functions.VectorFunctions.nearestCentroids(col("_qv"), cents, nProbe)))
      .select(col("q_id"), col("_qq").as("_qv"), norm(col("_qq")).as("_qn"),
        col("_probe"))
    val index = spark.read.parquet(s"$path/data")
    requireIntegralId(index, idCol, "ivfIndexQuantizedKnnJoin")
    batchProbe(index, idCol, "cell", probed, "_probe",
      withNorm(col("q").cast("array<double>")),
      cosineWithNorms(col("_v"), col("_qv"), col("_vn"), col("_qn")),
      k, scale, "qcos_sim")
  }

  /** ANN top-k over a persisted LSH index: the query's bucket (and its
    * hamming-1 neighbors when `multiProbe`) are computed on the DRIVER
    * with the same deterministic plane matrix, so the probe set is known
    * before any job runs and the scan prunes to nBits+1 of 2^nBits
    * partitions via PartitionFilters.
    */
  def lshIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   idCol: String, vecCol: String, queryVec: Array[Double],
                   dim: Int, k: Int, nBits: Int = 8,
                   multiProbe: Boolean = true, scale: Int = 6): DataFrame =
    pointProbe(spark.read.parquet(s"$path/data")
        .filter(col("bucket").isin(lshProbeBuckets(queryVec, dim, nBits, multiProbe): _*)),
      idCol, asDouble(col(vecCol)), queryVec, k, scale, "cos_sim")

  /** Driver-side LSH layout probes: the query's bucket plus (when
    * `multiProbe`) its hamming-1 flips, 'b'-prefixed like the partitions.
    */
  private def lshProbeBuckets(queryVec: Array[Double], dim: Int, nBits: Int,
                              multiProbe: Boolean): Seq[String] = {
    val qb = org.apache.spark.sql.graft.RandomHyperplanes.bucketOf(queryVec, dim, nBits)
    (if (multiProbe)
      qb +: (0 until nBits).map(i =>
        qb.updated(i, if (qb(i) == '1') '0' else '1'))
    else Seq(qb)).map("b" + _)
  }

  /** Top-k most-similar pairs via banded random-hyperplane LSH: each
    * vector gets `bands` independent bucket ids (bitsPerBand sign bits
    * each); docs colliding in ANY band are candidates; candidates are
    * ranked by exact cosine. This is the scale-correct formulation of
    * embedding near-dup ([[topPairs]] is the O(n²) exactness anchor, kept
    * for small-data verification): every join is an equi-join on the
    * bucket key — no BroadcastNestedLoopJoin anywhere — and the one
    * quadratic term is per-bucket, bounded by `maxBucket`.
    *
    * `maxBucket` drops degenerate buckets (near-identical boilerplate
    * embeddings, or a zero-region of the space): a bucket of b docs emits
    * O(b²) candidate pairs, so one hot bucket can dominate the whole job.
    * Dropped buckets lose nothing in practice — their pairs still meet in
    * the other bands unless they are degenerate in ALL bands, the
    * signature of boilerplate.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   dim: Int, k: Int, bands: Int = 8, bitsPerBand: Int = 4,
                   maxBucket: Int = 1000, scale: Int = 4): DataFrame = {
    val e = emb.select(col(idCol).as("_id"), asDouble(col(vecCol)).as("_v"))
      .repartition(col("_id"))
    val bucketCols = (0 until bands).map(b =>
      concat(lit(s"$b|"), lshBucket(col("_v"), dim, bitsPerBand, b)))
    // (id, bucket) inverted index; one exchange on the bucket key feeds
    // both self-join sides (ReusedExchange), and the per-bucket count cap
    // rides the same partitioning as a window — no extra shuffle.
    val banded = e
      .select(col("_id"), explode(array(bucketCols: _*)).as("bk"))
      .repartition(col("bk"))
      .withColumn("_bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
      .filter(col("_bn") <= maxBucket)
      .select(col("_id"), col("bk"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a._id") < col("b._id"))
      .select(col("a._id").as("d1"), col("b._id").as("d2"))
      .distinct()
    val v1 = e.select(col("_id").as("d1"), col("_v").as("v1"), norm(col("_v")).as("n1"))
    val v2 = e.select(col("_id").as("d2"), col("_v").as("v2"), norm(col("_v")).as("n2"))
    cand.join(v1, "d1").join(v2, "d2")
      .select(col("d1"), col("d2"),
        round(when(col("n1") * col("n2") > 0.0d,
            dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          .otherwise(lit(0.0d)), scale).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("d1"), col("d2"))
      .limit(k)
  }
}
