package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted ANN index layouts (round-2 verdict item 1): the corpus is
  * written partitioned by IVF cell / LSH bucket, so a probe prunes whole
  * partition directories at file-listing time instead of filtering rows —
  * the difference between reading nProbe/nCells of 100 TB and reading all
  * of it. Pins: the scan's PartitionFilters carries the probe IN-list, the
  * on-disk layout is hive-partitioned, and recall against brute force
  * matches the in-query formulations.
  */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)

  private def randVec(dim: Int): Array[Float] =
    Array.fill(dim)((rng.nextDouble() - 0.5).toFloat)

  private def perturb(v: Array[Float], eps: Float): Array[Float] =
    v.map(x => x + (rng.nextDouble() - 0.5).toFloat * eps)

  private val dim = 16
  private val queryVec: Array[Float] = randVec(dim)
  private lazy val emb = {
    val neighbors = (1 to 10).map(i => (i.toLong, perturb(queryVec, 0.001f)))
    val noise = (11 until 200).map(i => (i.toLong, randVec(dim)))
    ((0L, queryVec) +: (neighbors ++ noise)).toDF("vec_id", "embedding")
  }
  private def qv: Array[Double] = queryVec.map(_.toDouble)

  private def exactTop10: Set[Long] =
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, k = 11)
      .select("vec_id").as[Long].collect().toSet - 0L

  /** The probe IN-list inside the scan's PartitionFilters — the proof the
    * filter reached partition pruning rather than a row-level Filter node.
    */
  private def partitionFilterInList(plan: String, key: String): Seq[String] = {
    val re = ("PartitionFilters: \\[[^\\]]*" + key + "[^\\]]*IN \\(([^)]*)\\)").r
    re.findFirstMatchIn(plan).map(_.group(1).split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)
  }

  test("IVF index: partitioned layout, PartitionFilters prunes to nProbe cells, recall holds") {
    val dir = tmpDir("graft_ivfidx_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCells = 16)
    // hive layout on disk: cell=N directories
    val dirs = new java.io.File(s"$dir/data").list().filter(_.startsWith("cell="))
    assert(dirs.nonEmpty && dirs.length <= 16, s"expected cell= dirs, got ${dirs.toList}")

    val df = Similarity.ivfIndexTopK(spark, dir, "vec_id", "embedding", qv,
      k = 11, nProbe = 4)
    val got = df.select("vec_id").as[Long].collect().toSet - 0L
    val recall = (got & exactTop10).size.toDouble / exactTop10.size
    assert(recall >= 0.8, s"IVF-index recall $recall below 0.8")

    val plan = df.queryExecution.executedPlan.toString
    val probes = partitionFilterInList(plan, "cell")
    assert(probes.length == 4,
      s"PartitionFilters must prune to exactly nProbe cells, got $probes in:\n$plan")
  }

  test("IVF index: k-means refinement keeps the contract and the recall") {
    val dir = tmpDir("graft_ivfkm_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8, kmeansIters = 2)
    val cents = spark.read.parquet(s"$dir/centroids")
    assert(cents.count() == 8)
    // refined centroids are means, not corpus members: at least one must
    // differ from every raw corpus vector
    val corpusVecs = emb.select(transform(col("embedding"), _.cast("double")))
      .as[Seq[Double]].collect().toSet
    val centVecs = cents.select(col("centroid")).as[Seq[Double]].collect()
    assert(centVecs.exists(c => !corpusVecs.contains(c)),
      "k-means rounds must move the seed centroids off the sample points")
    val got = Similarity.ivfIndexTopK(spark, dir, "vec_id", "embedding", qv,
        k = 11, nProbe = 3)
      .select("vec_id").as[Long].collect().toSet - 0L
    val recall = (got & exactTop10).size.toDouble / exactTop10.size
    assert(recall >= 0.8, s"refined-IVF recall $recall below 0.8")
  }

  test("quantized IVF index: byte storage, same geometry, pruned probes, recall holds") {
    val dir = tmpDir("graft_ivfq_")
    Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding", dir, nCells = 16)
    // the data rows store (scale, q: array<tinyint>) — the 4×-narrower
    // value layout — not the float vector
    val schema = spark.read.parquet(s"$dir/data").schema
    assert(schema.fieldNames.toSet == Set("vec_id", "scale", "q", "cell"),
      s"unexpected layout: ${schema.treeString}")
    // (parquet reads lists back with containsNull=true; the element type
    // is the storage claim)
    assert(schema("q").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType,
      s"q must be array<byte>: ${schema("q").dataType}")
    // same geometry as the full-precision index: identical centroid table
    // and identical per-id cell assignment
    val full = tmpDir("graft_ivfq_full_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", full, nCells = 16)
    def cents(d: String) = spark.read.parquet(s"$d/centroids")
      .as[(Int, Seq[Double])].collect().toMap
    assert(cents(dir) == cents(full))
    def cells(d: String) = spark.read.parquet(s"$d/data")
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(cells(dir) == cells(full))
    // probe: pruned to nProbe partition directories, planted recall holds
    val df = Similarity.ivfIndexQuantizedTopK(spark, dir, "vec_id", qv,
      k = 11, nProbe = 4)
    val got = df.select("vec_id").as[Long].collect().toSet - 0L
    val recall = (got & exactTop10).size.toDouble / exactTop10.size
    assert(recall >= 0.8, s"quantized-IVF recall $recall below 0.8")
    val plan = df.queryExecution.executedPlan.toString
    val probes = partitionFilterInList(plan, "cell")
    assert(probes.length == 4,
      s"PartitionFilters must prune to exactly nProbe cells, got $probes in:\n$plan")
  }

  test("IVF-PQ index: cell dirs + code storage, pruned probes, scores match flat PQ on probed rows") {
    val dir = tmpDir("graft_ivfpq_")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", dir,
      nCells = 8, m = 4, nCodes = 8)
    // hive cell layout AND code-only storage in one index
    val dirs = new java.io.File(s"$dir/data").list().filter(_.startsWith("cell="))
    assert(dirs.nonEmpty && dirs.length <= 8, s"expected cell= dirs, got ${dirs.toList}")
    val data = spark.read.parquet(s"$dir/data")
    assert(data.schema("codes").dataType.simpleString == "array<int>")
    assert(!data.columns.contains("embedding"), "IVF-PQ data must not store floats")

    val df = Similarity.ivfPqIndexTopK(spark, dir, "vec_id", qv, k = 11, nProbe = 3)
    val out = df.collect()
    assert(out.length == 11)
    val plan = df.queryExecution.executedPlan.toString
    val probes = partitionFilterInList(plan, "cell")
    assert(probes.length == 3,
      s"PartitionFilters must prune to exactly nProbe cells, got $probes in:\n$plan")

    // the cells change WHICH rows are scored, never how: a flat PQ index
    // over the same corpus (same md5 seeding) scores every probed id
    // identically
    val flat = tmpDir("graft_pqflat_")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", flat, m = 4, nCodes = 8)
    val flatScores = Similarity.pqIndexTopK(spark, flat, "vec_id", qv, k = 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.foreach(r => assert(flatScores(r.getLong(0)) == r.getDouble(1),
      s"score drift for ${r.getLong(0)}"))
  }

  test("PQ batch k-NN joins: point-probe agreement, code-only scans, DPP on the IVF-PQ form") {
    val dir = tmpDir("graft_pqknn_")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", s"$dir/pq", m = 4, nCodes = 8)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", s"$dir/ivfpq",
      nCells = 8, m = 4, nCodes = 8)
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))

    // flat persisted form: every query's rows equal its point probe's
    val flat = Similarity.pqIndexKnnJoin(spark, s"$dir/pq", "vec_id",
      queries, "vec_id", "embedding", k = 5)
    val flatByQ = flat.as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(flatByQ.keySet == Set(0L, 50L, 150L))
    Seq(0L, 50L, 150L).foreach { q =>
      val vq = emb.filter(col("vec_id") === q)
        .select(transform(col("embedding"), _.cast("double")))
        .as[Seq[Double]].head().toArray
      val point = Similarity.pqIndexTopK(spark, s"$dir/pq", "vec_id", vq, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(flatByQ(q).map(r => (r._2, r._3)).toSet == point,
        s"flat PQ batch join must agree with the point probe for query $q")
    }

    // in-memory batch form agrees with the in-memory point op (same
    // deterministic codebooks on both paths)
    val mem = Similarity.pqKnnJoin(emb, queries, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, m = 4, nCodes = 8)
    val memByQ = mem.as[(Long, Long, Double)].collect().groupBy(_._1)
    val memPoint = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, k = 5,
        m = 4, nCodes = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(memByQ(0L).map(r => (r._2, r._3)).toSet == memPoint,
      "in-memory PQ batch join must agree with pqTopK")

    // IVF-PQ join: dynamically partition-pruned code-only scan, and each
    // query's rows equal its ivfPqIndexTopK point probe
    val ivf = Similarity.ivfPqIndexKnnJoin(spark, s"$dir/ivfpq", "vec_id",
      queries, "vec_id", "embedding", k = 5, nProbe = 3)
    val ivfByQ = ivf.as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(ivfByQ.keySet == Set(0L, 50L, 150L))
    Seq(0L, 50L, 150L).foreach { q =>
      val vq = emb.filter(col("vec_id") === q)
        .select(transform(col("embedding"), _.cast("double")))
        .as[Seq[Double]].head().toArray
      val point = Similarity.ivfPqIndexTopK(spark, s"$dir/ivfpq", "vec_id", vq,
          k = 5, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(ivfByQ(q).map(r => (r._2, r._3)).toSet == point,
        s"IVF-PQ batch join must agree with the point probe for query $q")
    }
    val plan = ivf.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"IVF-PQ index scan must be dynamically partition-pruned:\n$plan")

    // a local (non-file-backed) probe side self-repairs to a static
    // IN-list — same results, still pruned
    val localQ = emb.filter(col("vec_id").isin(0L, 50L, 150L))
    val repaired = Similarity.ivfPqIndexKnnJoin(spark, s"$dir/ivfpq", "vec_id",
        localQ, "vec_id", "embedding", k = 5, nProbe = 3)
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(repaired.view.mapValues(_.toSet).toMap ==
      ivfByQ.view.mapValues(_.toSet).toMap,
      "repaired local probes must return the DPP path's results")
  }

  test("buildIvfPqIndexScale: the preset IS residual m=16 nCodes=256 ki=3 (meta-pinned, byte-identical layout)") {
    val dir = tmpDir("graft_ivfpqscale_")
    Similarity.buildIvfPqIndexScale(emb, "vec_id", "embedding",
      s"$dir/preset", nCells = 4)
    val meta = Similarity.readIndexMeta(spark, s"$dir/preset")
    assert(meta("layout") == "ivf_pq" && meta("encoding") == "residual")
    assert(meta("m") == "16" && meta("n_codes") == "256" &&
      meta("kmeans_iters") == "3",
      s"the preset must bake the measured scale recipe: $meta")
    // parity with the explicit spelling — same data, same codes
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", s"$dir/explicit",
      nCells = 4, m = 16, nCodes = 256, kmeansIters = 3, residual = true)
    val a = spark.read.parquet(s"$dir/preset/data")
      .selectExpr("vec_id", "cell", "cast(codes as string) c")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val b = spark.read.parquet(s"$dir/explicit/data")
      .selectExpr("vec_id", "cell", "cast(codes as string) c")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(a == b, "preset and explicit builds must encode identically")
  }

  test("ivfPqIndexKnnJoinRerank: exact finish over code-proposed candidates, planted top-k recovered") {
    val dir = tmpDir("graft_ivfpqrr_")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", dir,
      nCells = 8, m = 4, nCodes = 8)
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    val rr = Similarity.ivfPqIndexKnnJoinRerank(spark, dir, emb,
      "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 5, kCand = 50, nProbe = 3)
    val byQ = rr.as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(byQ.keySet == Set(0L, 50L, 150L))
    // the rerank stage is exact cosine: every query finds itself first
    byQ.foreach { case (q, rs) =>
      val top = rs.maxBy(r => (r._3, -r._2))
      assert(top._2 == q && top._3 == 1.0, s"query $q must find itself first: $rs")
    }
    // the planted cluster shares query 0's top cell, so the candidate
    // cut contains the true top-5 and the EXACT finish must recover the
    // brute-force result verbatim — codes only propose, never rank
    val brute = Similarity.bruteKnnJoin(emb, queries.filter(col("vec_id") === 0L),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double)].collect().map(r => (r._2, r._3)).toSet
    assert(byQ(0L).map(r => (r._2, r._3)).toSet == brute,
      "rerank must equal brute force when the cells capture the true top-k")
  }

  test("residual IVF-PQ: marker, shared geometry, pruned probes, point-vs-join agreement, planted recall") {
    val dir = tmpDir("graft_ivfpqr_")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", s"$dir/res",
      nCells = 8, m = 4, nCodes = 8, residual = true)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", s"$dir/raw",
      nCells = 8, m = 4, nCodes = 8)
    // both layouts carry a meta table; the encoding entry distinguishes
    assert(Similarity.readIndexMeta(spark, s"$dir/res").get("encoding")
      .contains("residual"), "residual meta marker")
    assert(Similarity.readIndexMeta(spark, s"$dir/raw").get("encoding")
      .contains("raw"), "raw layout marked raw")
    assert(Similarity.isResidualIndex(spark, s"$dir/res"))
    assert(!Similarity.isResidualIndex(spark, s"$dir/raw"))
    // identical coarse geometry: same centroid table, same per-id cells
    // (residual changes WHAT the codes describe, never placement)
    def cells(d: String) = spark.read.parquet(s"$d/data")
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(cells(s"$dir/res") == cells(s"$dir/raw"))
    // code-only storage, same schema as the raw layout
    val data = spark.read.parquet(s"$dir/res/data")
    assert(data.schema("codes").dataType.simpleString == "array<int>")
    assert(!data.columns.contains("embedding"))

    // pruned point probe; planted neighbours must dominate — the
    // residual reconstruction centroid+decode(codes) is near-exact for
    // tight clusters, which raw-vector codes at this budget are not
    val df = Similarity.ivfPqIndexTopK(spark, s"$dir/res", "vec_id", qv,
      k = 11, nProbe = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(partitionFilterInList(plan, "cell").length == 3,
      s"PartitionFilters must prune to nProbe cells:\n$plan")
    val got = df.select("vec_id").as[Long].collect().toSet - 0L
    val recall = (got & exactTop10).size.toDouble / exactTop10.size
    assert(recall >= 0.8, s"residual IVF-PQ planted recall $recall below 0.8")

    // batch join: DPP + exact agreement with the point probes
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    val join = Similarity.ivfPqIndexKnnJoin(spark, s"$dir/res", "vec_id",
      queries, "vec_id", "embedding", k = 5, nProbe = 3)
    val byQ = join.as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(byQ.keySet == Set(0L, 50L, 150L))
    Seq(0L, 50L, 150L).foreach { q =>
      val vq = emb.filter(col("vec_id") === q)
        .select(transform(col("embedding"), _.cast("double")))
        .as[Seq[Double]].head().toArray
      val point = Similarity.ivfPqIndexTopK(spark, s"$dir/res", "vec_id", vq,
          k = 5, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(byQ(q).map(r => (r._2, r._3)).toSet == point,
        s"residual batch join must agree with the point probe for query $q")
    }
    assert(join.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      "residual index scan must be dynamically partition-pruned")
  }

  test("PQ refinement: Lloyd rounds shrink quantization error, probe contract unchanged") {
    def readCb(dir: String): Array[Array[Array[Double]]] = {
      val rows = spark.read.parquet(s"$dir/codebooks")
        .select(col("s"), col("code"), col("w")).collect()
      val cb = Array.ofDim[Array[Double]](
        rows.map(_.getInt(0)).max + 1, rows.map(_.getInt(1)).max + 1)
      rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      cb
    }
    val d0 = tmpDir("graft_pqseed_")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", d0, m = 4, nCodes = 8)
    val d2 = tmpDir("graft_pqref_")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", d2, m = 4, nCodes = 8,
      kmeansIters = 2)
    val e0 = Similarity.pqQuantizationError(emb, "embedding", readCb(d0))
    val e2 = Similarity.pqQuantizationError(emb, "embedding", readCb(d2))
    assert(e2 <= e0 + 1e-12, s"refined error $e2 above seed error $e0")
    assert(e2 < e0, s"two Lloyd rounds should strictly improve on random seeds")
    // the layout contract and probe path are untouched by refinement
    val out = Similarity.pqIndexTopK(spark, d2, "vec_id", qv, k = 5).collect()
    assert(out.length == 5)
    assert(spark.read.parquet(s"$d2/data")
      .schema("codes").dataType.simpleString == "array<int>")
  }

  test("LSH index: bucket-partitioned layout, multi-probe prunes to nBits+1 partitions, recall holds") {
    val dir = tmpDir("graft_lshidx_")
    Similarity.buildLshIndex(emb, "vec_id", "embedding", dir, dim = dim, nBits = 6)
    // partition values carry the 'b' prefix so type inference cannot
    // collapse bit strings into integers
    val dirs = new java.io.File(s"$dir/data").list().filter(_.startsWith("bucket=b"))
    assert(dirs.nonEmpty, "expected bucket=bXXXXXX partition dirs")

    val df = Similarity.lshIndexTopK(spark, dir, "vec_id", "embedding", qv,
      dim = dim, k = 11, nBits = 6, multiProbe = true)
    val got = df.select("vec_id").as[Long].collect().toSet - 0L
    val recall = (got & exactTop10).size.toDouble / exactTop10.size
    assert(recall >= 0.8, s"LSH-index recall $recall below 0.8")

    val plan = df.queryExecution.executedPlan.toString
    val probes = partitionFilterInList(plan, "bucket")
    assert(probes.length == 7, // query bucket + 6 hamming-1 neighbors
      s"PartitionFilters must prune to nBits+1 buckets, got $probes in:\n$plan")
  }

  test("LSH index batch k-NN join: per-query hits via dynamic partition pruning") {
    val dir = tmpDir("graft_lshknn_")
    Similarity.buildLshIndex(emb, "vec_id", "embedding", dir, dim = dim, nBits = 6)
    // three query vectors straight from the corpus: each must find itself.
    // The query side must be FILE-backed with a surviving Filter node: a
    // local Seq collapses to a LocalRelation (filters constant-folded),
    // and Spark's PartitionPruning rule requires a selective predicate on
    // the probe side before it inserts the pruning subquery.
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    val df = Similarity.lshIndexKnnJoin(spark, dir, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, dim = dim, nBits = 6)
    val rows = df.as[(Long, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 50L, 150L))
    byQ.foreach { case (q, rs) =>
      val top = rs.maxBy(r => (r._3, -r._2))
      assert(top._2 == q && top._3 == 1.0, s"query $q must find itself first: $rs")
    }
    // query 0's planted neighbours dominate its top-5
    assert((byQ(0L).map(_._2).toSet - 0L).subsetOf((1L to 10L).toSet))
    // the probe side is broadcast and the bucket is the partition key, so
    // the scan must carry a dynamic-pruning predicate: the non-probed
    // partition directories of the index are never read
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"index scan must be dynamically partition-pruned:\n$plan")
  }

  test("IVF index batch k-NN join: per-query hits via dynamic partition pruning") {
    val dir = tmpDir("graft_ivfknn_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCells = 16)
    // file-backed query side with a surviving Filter — the DPP-eligible
    // shape (same contract as the LSH join above)
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    val df = Similarity.ivfIndexKnnJoin(spark, dir, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nProbe = 4)
    val rows = df.as[(Long, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 50L, 150L))
    byQ.foreach { case (q, rs) =>
      val top = rs.maxBy(r => (r._3, -r._2))
      assert(top._2 == q && top._3 == 1.0, s"query $q must find itself first: $rs")
    }
    // query 0's planted neighbours dominate its top-5
    assert((byQ(0L).map(_._2).toSet - 0L).subsetOf((1L to 10L).toSet))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"index scan must be dynamically partition-pruned:\n$plan")
  }

  test("quantized IVF index batch k-NN join: DPP, point-probe agreement, repaired local probes") {
    val dir = tmpDir("graft_ivfqknn_")
    Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding", dir, nCells = 16)
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    val df = Similarity.ivfIndexQuantizedKnnJoin(spark, dir, "vec_id",
      queries, "vec_id", "embedding", k = 5, nProbe = 4)
    val rows = df.as[(Long, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 50L, 150L))
    byQ.foreach { case (q, rs) =>
      // a vector's quantized cosine with itself is exactly 1
      val top = rs.maxBy(r => (r._3, -r._2))
      assert(top._2 == q && top._3 == 1.0, s"query $q must find itself first: $rs")
    }
    // the scan side reads the byte layout under dynamic partition pruning
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"quantized index scan must be dynamically partition-pruned:\n$plan")
    // batch join and point probe serve the SAME rank from the same layout
    val point = Similarity.ivfIndexQuantizedTopK(spark, dir, "vec_id", qv,
      k = 5, nProbe = 4).as[(Long, Double)].collect().toSet
    assert(byQ(0L).map(r => (r._2, r._3)).toSet == point,
      "batch join must agree with the point probe for the same query")
    // local (non-file) probe side self-repairs to a static cell IN-list
    val local = Similarity.ivfIndexQuantizedKnnJoin(spark, dir, "vec_id",
      emb.filter(col("vec_id").isin(0L, 50L, 150L)), "vec_id", "embedding",
      k = 5, nProbe = 4)
    val localPlan = local.queryExecution.executedPlan.toString
    assert(("PartitionFilters: \\[[^\\]]*cell#\\d+ IN").r.findFirstIn(localPlan).nonEmpty,
      s"repaired quantized join must pin probe cells in PartitionFilters:\n$localPlan")
    assert(local.as[(Long, Long, Double)].collect().toSet == rows.toSet)
  }

  test("quantized LSH index: byte storage, same buckets, pruned probes, batch join agrees") {
    val dir = tmpDir("graft_lshq_")
    Similarity.buildLshIndexQuantized(emb, "vec_id", "embedding", dir, dim = dim, nBits = 6)
    // byte layout, and bucket geometry identical to the float index
    val schema = spark.read.parquet(s"$dir/data").schema
    assert(schema.fieldNames.toSet == Set("vec_id", "scale", "q", "bucket"))
    assert(schema("q").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    val full = tmpDir("graft_lshq_full_")
    Similarity.buildLshIndex(emb, "vec_id", "embedding", full, dim = dim, nBits = 6)
    def buckets(d: String) = spark.read.parquet(s"$d/data")
      .select(col("vec_id"), col("bucket").cast("string")).as[(Long, String)]
      .collect().toMap
    assert(buckets(dir) == buckets(full))
    // point probe: pruned to nBits+1 bucket directories, planted recall
    val df = Similarity.lshIndexQuantizedTopK(spark, dir, "vec_id", qv,
      dim = dim, k = 11, nBits = 6, multiProbe = true)
    val got = df.select("vec_id").as[Long].collect().toSet - 0L
    val recall = (got & exactTop10).size.toDouble / exactTop10.size
    assert(recall >= 0.8, s"quantized-LSH recall $recall below 0.8")
    val plan = df.queryExecution.executedPlan.toString
    assert(partitionFilterInList(plan, "bucket").length == 7,
      s"PartitionFilters must prune to nBits+1 buckets:\n$plan")
    // batch join (file-backed probes -> DPP) agrees with the point probe
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id") === 0L)
    val join = Similarity.lshIndexQuantizedKnnJoin(spark, dir, "vec_id",
      queries, "vec_id", "embedding", k = 11, dim = dim, nBits = 6)
    assert(join.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"))
    val point = Similarity.lshIndexQuantizedTopK(spark, dir, "vec_id", qv,
      dim = dim, k = 11, nBits = 6).as[(Long, Double)].collect().toSet
    assert(join.as[(Long, Long, Double)].collect().map(r => (r._2, r._3)).toSet
      == point, "batch join must agree with the point probe")
  }

  test("index k-NN joins self-repair pruning for a local (non-file) probe side") {
    val dir = tmpDir("graft_repair_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCells = 16)
    Similarity.buildLshIndex(emb, "vec_id", "embedding", s"$dir/lsh", dim = dim, nBits = 6)
    // emb IS a Seq.toDF — a LocalRelation; its filter constant-folds, so
    // Spark's PartitionPruning rule can never fire. The join must fall
    // back to a driver-enumerated static IN-list on the partition column
    // (bounded: queries × probes), not silently scan every directory.
    val localQueries = emb.filter(col("vec_id").isin(0L, 50L, 150L))
    // the enumerated IN-list renders as `col INSET v1, v2, ...` (and is
    // truncated by toString past ~25 values), so pin membership, not count
    // — boundedness (≤ queries × probes keys) is the collect's limit()
    def pinnedPartitionFilter(plan: String, key: String): Boolean =
      ("PartitionFilters: \\[[^\\]]*" + key + "#\\d+ IN").r.findFirstIn(plan).nonEmpty
    val ivf = Similarity.ivfIndexKnnJoin(spark, dir, "vec_id", "embedding",
      localQueries, "vec_id", "embedding", k = 5, nProbe = 4)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    assert(pinnedPartitionFilter(ivfPlan, "cell"),
      s"repaired IVF join must pin probe cells in PartitionFilters:\n$ivfPlan")
    val lsh = Similarity.lshIndexKnnJoin(spark, s"$dir/lsh", "vec_id", "embedding",
      localQueries, "vec_id", "embedding", k = 5, dim = dim, nBits = 6)
    val lshPlan = lsh.queryExecution.executedPlan.toString
    assert(pinnedPartitionFilter(lshPlan, "bucket"),
      s"repaired LSH join must pin probe buckets in PartitionFilters:\n$lshPlan")
    // repair changes the pruning mechanism, never the result: equal to the
    // file-backed (DPP) path on the same queries
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val fileQueries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    def canonKnn(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    assert(canonKnn(ivf) == canonKnn(Similarity.ivfIndexKnnJoin(spark, dir,
      "vec_id", "embedding", fileQueries, "vec_id", "embedding", k = 5, nProbe = 4)))
    assert(canonKnn(lsh) == canonKnn(Similarity.lshIndexKnnJoin(spark, s"$dir/lsh",
      "vec_id", "embedding", fileQueries, "vec_id", "embedding", k = 5, dim = dim, nBits = 6)))
  }

  test("text-dedup index: pairs from the layout == direct minHashLsh; re-screen without rebuild") {
    val rng2 = new scala.util.Random(77)
    def doc(): String = List.fill(25)(('a' + rng2.nextInt(8)).toChar.toString
      * (rng2.nextInt(2) + 1)).mkString(" ")
    val base = (1L to 30L).map(i => (i, doc()))
    // planted near-dups: shared prefix, small tail edits
    val dups = base.take(5).map { case (i, t) =>
      (i + 100, t.split(" ").dropRight(2).mkString(" ") + " zz qq") }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val dir = tmpDir("graft_textidx_")
    Dedup.buildTextIndex(docs, "doc_id", "text", dir)
    // band-partitioned on disk: single-band reprocessing is file pruning
    val bandDirs = new java.io.File(s"$dir/bands").list().filter(_.startsWith("band="))
    assert(bandDirs.sorted.toSeq == Seq("band=0", "band=1", "band=2", "band=3"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val direct = canon(Dedup.minHashLsh(docs, "doc_id", "text"))
    val indexed = canon(Dedup.minHashLshFromIndex(spark, dir))
    assert(indexed == direct, "index-served pairs must equal the direct pipeline")
    assert(direct.nonEmpty, "planted near-dups must surface")
    // probe-time strictness: a looser threshold is a re-read, not a rebuild,
    // and still equals the direct pipeline at that threshold
    val loose = canon(Dedup.minHashLshFromIndex(spark, dir, threshold = 0.2))
    assert(loose == canon(Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.2)))
    assert(loose.size >= direct.size)
    // the recall audit served from the SAME layout == the from-scratch
    // audit at matching parameters (zero re-tokenization)
    def canonAudit(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Long, Long, Double)].collect().toSet
    val directAudit = canonAudit(Dedup.dedupRecall(
      Dedup.ngramJaccard(docs, "doc_id", "text", w = 3, threshold = 0.2),
      Dedup.lshCandidates(
        Dedup.minHashSignatures(Dedup.shingleSets(docs, "doc_id", "text", 3), 8),
        8, 4)))
    val indexAudit = canonAudit(Dedup.dedupRecallFromIndex(spark, dir))
    assert(indexAudit == directAudit,
      "index-served recall audit must equal the from-scratch audit")
    assert(indexAudit.nonEmpty)
    // reband: a NEW (k, bands) geometry derived from the persisted sets
    // — the q139 tuning loop without re-tokenizing; probes then equal
    // the direct pipeline at the new banding, and meta tracks it
    Dedup.rebandTextIndex(spark, dir, k = 16, bands = 8)
    assert(canon(Dedup.minHashLshFromIndex(spark, dir)) ==
      canon(Dedup.minHashLsh(docs, "doc_id", "text", k = 16, bands = 8)),
      "rebanded probes must equal the direct pipeline at the new banding")
    val meta = Similarity.readIndexMeta(spark, dir)
    assert(meta("k") == "16" && meta("bands") == "8" && meta("w") == "3")
    // geometry sanity: k % bands must hold
    val bad = intercept[IllegalArgumentException](
      Dedup.rebandTextIndex(spark, dir, k = 8, bands = 3))
    assert(bad.getMessage.contains("multiple"))
  }

  test("ivfRebuildDrift: identity on the build corpus; real drift after streamed appends") {
    val dir = tmpDir("graft_drift_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    // identity on the unchanged corpus: the refit reproduces the build
    // (same deterministic seeding over the same rows), so every row stays
    val base = Similarity.ivfRebuildDrift(spark, dir, "vec_id", "embedding")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(base.forall(r => r._2 == r._3 && r._2 == r._4 && r._5 == 1.0),
      s"unchanged corpus must audit at retention 1.0: ${base.toList}")
    assert(base.map(_._2).sum == emb.count(), "counts conserve")

    // stream in a shifted population (a different region of the space):
    // the frozen centroids place them, but a refit would re-seed from
    // the grown id set and re-carve the space — drift appears
    val rng2 = new scala.util.Random(11)
    val shifted = (5000L until 5120L).map(i =>
      (i, Array.fill(dim)((rng2.nextDouble() * 0.3 + 1.0).toFloat).toSeq))
    shifted.toDF("vec_id", "embedding")
      .withColumn("cell", graft.functions.VectorFunctions.nearestCentroid(
        transform(col("embedding"), _.cast("double")),
        spark.read.parquet(s"$dir/centroids").select(col("cell"), col("centroid"))
          .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/data")
    val drifted = Similarity.ivfRebuildDrift(spark, dir, "vec_id", "embedding")
      .as[(Long, Long, Long, Long, Double)].collect()
    val total = emb.count() + shifted.size
    // conservation: both partitions of the corpus sum to every row once
    assert(drifted.map(_._2).sum == total, "stored counts conserve")
    assert(drifted.map(_._3).sum == total, "rebuilt counts conserve")
    drifted.foreach { r =>
      assert(r._4 <= math.min(r._2, r._3),
        s"stayed rows bounded by both sides: $r")
    }
    val globalRetention = drifted.map(_._4).sum.toDouble / total
    assert(globalRetention < 1.0,
      s"a shifted streamed population must show drift, retention $globalRetention")
  }

  test("codeRebuildDrift: int8 decode audits near-identity fresh, drifts after shifted appends; IVF-PQ decodes per encoding") {
    val dir = tmpDir("graft_cdrift_")
    Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding",
      s"$dir/q8", nCells = 8)
    val n = emb.count()
    // fresh layout: the int8 decode error (≤ scale/254 per dim) is far
    // inside the cell margins of this fixture, so the decoded refit
    // reproduces the build's carve — retention 1.0, counts conserve
    val base = Similarity.codeRebuildDrift(spark, s"$dir/q8", "vec_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(base.map(_._2).sum == n && base.map(_._3).sum == n)
    val baseRet = base.map(_._4).sum.toDouble / n
    assert(baseRet >= 0.99, s"fresh int8 layout should audit ~identity: $baseRet")

    // shifted streamed population, appended in the layout's own schema
    // (quantize-after-placing, like the sink): drift must appear
    val cents = spark.read.parquet(s"$dir/q8/centroids")
      .select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val rng2 = new scala.util.Random(13)
    (5000L until 5100L).map(i =>
        (i, Array.fill(dim)((rng2.nextDouble() * 0.3 + 1.0).toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(
          transform(col("embedding"), _.cast("double"))).as("_z"),
        graft.functions.VectorFunctions.nearestCentroid(
          transform(col("embedding"), _.cast("double")), cents).as("cell"))
      .select(col("vec_id"), col("_z.scale").as("scale"), col("_z.q").as("q"),
        col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/q8/data")
    val drifted = Similarity.codeRebuildDrift(spark, s"$dir/q8", "vec_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    val total = n + 100
    assert(drifted.map(_._2).sum == total && drifted.map(_._3).sum == total)
    assert(drifted.map(_._4).sum.toDouble / total < baseRet,
      "shifted appends must lower retention vs the fresh baseline")

    // IVF-PQ, raw and residual: the audit decodes per the meta encoding
    // and is deterministic (two runs byte-equal); counts conserve. At a
    // tiny codebook the reconstruction legitimately moves points across
    // cells, so no identity claim — the numbers are the gauge.
    for (res <- Seq(false, true)) {
      val p = s"$dir/ivfpq_$res"
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", p,
        nCells = 8, m = 4, nCodes = 8, residual = res)
      val a = Similarity.codeRebuildDrift(spark, p, "vec_id")
        .as[(Long, Long, Long, Long, Double)].collect()
      val b = Similarity.codeRebuildDrift(spark, p, "vec_id")
        .as[(Long, Long, Long, Long, Double)].collect()
      assert(a.toSeq == b.toSeq, s"audit must be deterministic (residual=$res)")
      assert(a.map(_._2).sum == n && a.map(_._3).sum == n)
      a.foreach(r => assert(r._4 <= math.min(r._2, r._3), s"$r"))
    }

    // fail-fast surfaces: flat PQ has no cells; float layouts route to
    // ivfRebuildDrift
    Similarity.buildPqIndex(emb, "vec_id", "embedding", s"$dir/flat",
      m = 4, nCodes = 8)
    val e1 = intercept[IllegalArgumentException](
      Similarity.codeRebuildDrift(spark, s"$dir/flat", "vec_id"))
    assert(e1.getMessage.contains("no cell"))
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", s"$dir/float",
      nCells = 8)
    val e2 = intercept[IllegalArgumentException](
      Similarity.codeRebuildDrift(spark, s"$dir/float", "vec_id"))
    assert(e2.getMessage.contains("ivfRebuildDrift"))
  }

  test("rebuild: drift closes to 1.0, probes correct across the swap, meta survives") {
    val dir = tmpDir("graft_rebuild_")
    Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding", dir, nCells = 8)
    // shifted streamed population placed by the FROZEN build centroids
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val rng2 = new scala.util.Random(17)
    (6000L until 6150L).map(i =>
        (i, Array.fill(dim)((rng2.nextDouble() * 0.3 + 1.0).toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(
          transform(col("embedding"), _.cast("double"))).as("_z"),
        graft.functions.VectorFunctions.nearestCentroid(
          transform(col("embedding"), _.cast("double")), cents).as("cell"))
      .select(col("vec_id"), col("_z.scale").as("scale"), col("_z.q").as("q"),
        col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/data")
    val total = emb.count() + 150

    def retention(): Double = {
      val d = Similarity.codeRebuildDrift(spark, dir, "vec_id")
        .as[(Long, Long, Long, Long, Double)].collect()
      assert(d.map(_._2).sum == total, "stored counts conserve")
      d.map(_._4).sum.toDouble / total
    }
    val before = retention()
    assert(before < 1.0, s"shifted appends must show drift: $before")

    IndexMaintenance.rebuild(spark, dir, "vec_id")
    // the audit's refit now reproduces the rebuild's own carve exactly:
    // decode(requantize(decoded)) is value-identical for int8 (the
    // max-|q| element is ±127 so the scale round-trips), and the refit
    // runs the same deterministic seeding over the same ids
    assert(retention() == 1.0, "post-rebuild audit must be the identity")
    // no leftover staging/aside dirs
    assert(!new java.io.File(dir + "_compact_tmp").exists())
    assert(!new java.io.File(dir + "_compact_old").exists())
    // probes across the swap: the rebuilt layout answers point probes
    // identically to a fresh build over the same decoded corpus
    val fresh = tmpDir("graft_rebuild_fresh_")
    Similarity.buildIvfIndexQuantized(
      Similarity.decodeStored(spark, dir, "vec_id")
        .select(col("vec_id"), col("_v").as("embedding")),
      "vec_id", "embedding", fresh, nCells = 8)
    val a = Similarity.ivfIndexQuantizedTopK(spark, dir, "vec_id",
      qv, k = 5, nProbe = 3).collect().map(_.toString).toSeq
    val b = Similarity.ivfIndexQuantizedTopK(spark, fresh, "vec_id",
      qv, k = 5, nProbe = 3).collect().map(_.toString).toSeq
    assert(a == b, "rebuilt layout must probe like a fresh build of the same corpus")
    // meta survives the swap with the same parameters
    val meta = Similarity.readIndexMeta(spark, dir)
    assert(meta.get("layout").contains("ivf_int8") &&
      meta.get("n_cells").contains("8"))

    // IVF-PQ residual round-trip: rebuild preserves the encoding marker
    val rp = tmpDir("graft_rebuild_res_")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", rp,
      nCells = 8, m = 4, nCodes = 8, residual = true)
    IndexMaintenance.rebuild(spark, rp, "vec_id")
    assert(Similarity.isResidualIndex(spark, rp),
      "rebuild must preserve the residual encoding")
    assert(spark.read.parquet(s"$rp/data").count() == emb.count())

    // float IVF: rebuild re-derives centroids from the stored floats;
    // the audit reads identity afterwards and probes keep working
    val fp = tmpDir("graft_rebuild_float_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", fp, nCells = 8)
    spark.range(9000, 9050)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 16), x -> CAST(1.0 AS FLOAT))").as("embedding"),
        lit(0).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$fp/data")
    IndexMaintenance.rebuild(spark, fp, "vec_id", "embedding")
    val fAudit = Similarity.ivfRebuildDrift(spark, fp, "vec_id", "embedding")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(fAudit.map(_._2).sum == emb.count() + 50)
    assert(fAudit.map(_._4).sum == emb.count() + 50,
      "a freshly rebuilt float layout must audit at identity")
    assert(Similarity.ivfIndexTopK(spark, fp, "vec_id", "embedding",
      qv, k = 5, nProbe = 3).count() == 5)
  }

  test("PQ layouts compact like the rest of the family: probes byte-identical, files collapse") {
    // the streamed PQ sinks append small files per micro-batch; the
    // standing IndexMaintenance.compact must serve both code layouts
    // (flat unpartitioned, IVF-PQ cell-partitioned) unchanged
    val dir = tmpDir("graft_pqcompact_")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", s"$dir/pq",
      m = 4, nCodes = 8)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", s"$dir/ivfpq",
      nCells = 8, m = 4, nCodes = 8)
    // fragment both the way the sinks would: per-batch encoded appends
    def readCb(d: String): Array[Array[Array[Double]]] = {
      val rows = spark.read.parquet(s"$d/codebooks")
        .select(col("s"), col("code"), col("w")).collect()
      val cb = Array.ofDim[Array[Double]](
        rows.map(_.getInt(0)).max + 1, rows.map(_.getInt(1)).max + 1)
      rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      cb
    }
    val rng2 = new scala.util.Random(5)
    (0 until 3).foreach { i =>
      val extra = (2000L + i * 10 until 2000L + i * 10 + 4)
        .map(j => (j, Seq.fill(dim)((rng2.nextDouble() - 0.5).toDouble)))
      extra.toDF("vec_id", "_v")
        .select(col("vec_id"), graft.functions.VectorFunctions.pqEncode(
          col("_v"), readCb(s"$dir/pq")).as("codes"))
        .write.mode("append").parquet(s"$dir/pq/data")
      val cents = spark.read.parquet(s"$dir/ivfpq/centroids")
        .select(col("cell"), col("centroid")).collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      extra.toDF("vec_id", "_v")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.pqEncode(
            col("_v"), readCb(s"$dir/ivfpq")).as("codes"),
          graft.functions.VectorFunctions.nearestCentroid(col("_v"), cents).as("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$dir/ivfpq/data")
    }
    val probeBefore = Similarity.pqIndexTopK(spark, s"$dir/pq", "vec_id", qv, k = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivfBefore = Similarity.ivfPqIndexTopK(spark, s"$dir/ivfpq", "vec_id", qv,
      k = 8, nProbe = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val filesBefore = IndexMaintenance.dataFileCount(spark, s"$dir/pq/data")
    IndexMaintenance.compact(spark, s"$dir/pq/data", None)
    IndexMaintenance.compact(spark, s"$dir/ivfpq/data", Some("cell"))
    assert(IndexMaintenance.dataFileCount(spark, s"$dir/pq/data") < filesBefore,
      "flat PQ compaction must reduce files")
    assert(Similarity.pqIndexTopK(spark, s"$dir/pq", "vec_id", qv, k = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == probeBefore,
      "flat PQ probe must be byte-identical after compaction")
    assert(Similarity.ivfPqIndexTopK(spark, s"$dir/ivfpq", "vec_id", qv,
        k = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == ivfBefore,
      "IVF-PQ probe must be byte-identical after compaction")
  }

  test("index compaction: fragmented appends collapse to one file per partition, rows and probes intact") {
    val dir = tmpDir("graft_compact_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCells = 8)
    // fragment the layout the way a long-running sink would: several
    // small appends into the same partition directories
    val rng2 = new scala.util.Random(3)
    (0 until 4).foreach { i =>
      val extra = (1000L + i * 10 until 1000L + i * 10 + 5)
        .map(j => (j, Seq.fill(dim)((rng2.nextDouble() - 0.5).toFloat)))
      extra.toDF("vec_id", "embedding")
        .withColumn("cell", graft.functions.VectorFunctions.nearestCentroid(
          transform(col("embedding"), _.cast("double")),
          spark.read.parquet(s"$dir/centroids").select(col("cell"), col("centroid"))
            .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)))
        .write.mode("append").partitionBy("cell").parquet(s"$dir/data")
    }
    val before = IndexMaintenance.dataFileCount(spark, s"$dir/data")
    val rowsBefore = spark.read.parquet(s"$dir/data")
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    val dirsBefore = new java.io.File(s"$dir/data").list()
      .filter(_.startsWith("cell=")).toSet
    IndexMaintenance.compact(spark, s"$dir/data", Some("cell"))
    val after = IndexMaintenance.dataFileCount(spark, s"$dir/data")
    assert(after < before, s"compaction must reduce files: $before -> $after")
    assert(after == dirsBefore.size, "one file per partition directory")
    // content, assignment, and layout are untouched
    val rowsAfter = spark.read.parquet(s"$dir/data")
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(rowsAfter == rowsBefore)
    assert(new java.io.File(s"$dir/data").list().filter(_.startsWith("cell="))
      .toSet == dirsBefore)
    // probes keep pruning against the compacted layout
    val df = Similarity.ivfIndexTopK(spark, dir, "vec_id", "embedding", qv,
      k = 11, nProbe = 4)
    assert(partitionFilterInList(df.queryExecution.executedPlan.toString,
      "cell").length == 4)
    val got = df.select("vec_id").as[Long].collect().toSet - 0L
    assert((got & exactTop10).size.toDouble / exactTop10.size >= 0.8)
    // flat (unpartitioned) directory: the exact-key layout's keys/ form
    val flat = tmpDir("graft_compactflat_")
    (1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(8).write.parquet(s"$flat/keys")
    val fb = IndexMaintenance.dataFileCount(spark, s"$flat/keys")
    val keysBefore = spark.read.parquet(s"$flat/keys")
      .as[(Long, String)].collect().toSet
    IndexMaintenance.compact(spark, s"$flat/keys", None)
    assert(IndexMaintenance.dataFileCount(spark, s"$flat/keys") == 1 && fb > 1)
    assert(spark.read.parquet(s"$flat/keys")
      .as[(Long, String)].collect().toSet == keysBefore)
  }

  test("compact round-trip under appends: batches before and after compact survive; probes see the union") {
    val dir = tmpDir("graft_compactappend_")
    val base = (1L to 50L).map(i => (i, s"base doc $i")).toDF("doc_id", "text")
    Dedup.buildExactKeyIndex(base, "text", dir)
    // fragment the layout the way the streaming sink would: small appends
    (0 until 3).foreach { b =>
      val batch = (100L + b * 10 until 100L + b * 10 + 5)
        .map(i => (i, s"batch $b doc $i")).toDF("doc_id", "text")
      Dedup.appendExactKeys(spark, batch, "text", dir)
    }
    val keysBefore = spark.read.parquet(s"$dir/keys")
      .as[String].collect().toSet
    // a stale dir_compact_old stranded by an interrupted earlier run must
    // be cleared, not fatal
    new java.io.File(s"$dir/keys_compact_old").mkdirs()
    IndexMaintenance.compact(spark, s"$dir/keys", None)
    assert(!new java.io.File(s"$dir/keys_compact_old").exists(),
      "compact must clean up the aside copy")
    assert(IndexMaintenance.dataFileCount(spark, s"$dir/keys") == 1)
    // a sink appending AFTER compact (resumed stream): nothing lost
    val late = (200L to 204L).map(i => (i, s"late doc $i")).toDF("doc_id", "text")
    Dedup.appendExactKeys(spark, late, "text", dir)
    val keysAfter = spark.read.parquet(s"$dir/keys")
      .as[String].collect().toSet
    assert(keysBefore.subsetOf(keysAfter) && keysAfter.size == keysBefore.size + 5,
      s"post-compact append lost rows: ${keysBefore.size} -> ${keysAfter.size}")
    // probes see the UNION of pre-compact, appended, and post-compact keys;
    // the probe batch carries its own `key` column to pin the reserved
    // _idx_key join (a user column named `key` must not be ambiguous)
    val probe = Seq(
      (1L, "base doc 1"), (102L, "batch 0 doc 102"),
      (200L, "late doc 200"), (999L, "brand new")
    ).toDF("doc_id", "text").withColumn("key", col("doc_id").cast("string"))
    val admitted = Dedup.exactDedupAgainstIndex(spark, probe, "text", dir)
    assert(admitted.columns.toSeq == Seq("doc_id", "text", "key"),
      "screen must preserve the caller's schema, including a `key` column")
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(999L),
      "probe must reject every key admitted before, between, or after compacts")
    // a second compact over the appended layout keeps everything
    IndexMaintenance.compact(spark, s"$dir/keys", None)
    assert(spark.read.parquet(s"$dir/keys").as[String].collect().toSet == keysAfter)
  }

  test("consolidateLineDeltas folds committed deltas, keeps in-flight ones, probes byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_linecons_")
    graft.ops.Dedup.buildLineIndex(Seq(
        (1L, "cookie banner\nstanding one"),
        (2L, "cookie banner\nstanding two")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/lines_idx", minDocFreq = 3)
    // two COMMITTED micro-batches through the real sink (so checkpoint
    // commits/ is the genuine artifact, not a hand-rolled fake)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.lineRemovalSink(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/lines_idx", s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((10L, "cookie banner\nalpha uno"))
      q.processAllAvailable()
      mem.addData((11L, "promo line\nbeta dos"), (12L, "promo line\ngamma"))
      q.processAllAvailable()
    } finally q.stop()
    // an IN-FLIGHT delta: appended counts whose batch never committed
    graft.ops.Dedup.appendLineCounts(
      Seq((20L, "cookie banner\nuncommitted")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/lines_idx", "b2")

    def probe(exclude: Option[String]) = graft.ops.Dedup
      .removeLinesAgainstIndex(spark,
        Seq((99L, "cookie banner\npromo line\nnovel probe"))
          .toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/lines_idx", excludeToken = exclude)
      .select("doc_id", "clean_text", "n_lines", "n_removed")
      .as[(Long, String, Long, Long)].collect().toSet
    def deltaDirs() = new java.io.File(s"$dir/lines_idx/lines").list()
      .filter(_.startsWith("delta=")).map(_.stripPrefix("delta=")).toSet
    def counts() = spark.read.parquet(s"$dir/lines_idx/lines")
      .groupBy("lh").agg(sum("df").as("df"))
      .as[(String, Long)].collect().toSet

    val (before, beforeB2, beforeCounts) =
      (probe(None), probe(Some("b2")), counts())
    assert(deltaDirs() == Set("base", "b0", "b1", "b2"))
    val folded = graft.ops.IndexMaintenance.consolidateLineDeltas(
      spark, s"$dir/lines_idx", s"$dir/ckpt")
    assert(folded.toSet == Set("b0", "b1"),
      s"only the committed tokens fold: $folded")
    assert(deltaDirs() == Set("base", "b2"),
      s"in-flight b2 must survive as its own partition: ${deltaDirs().toSet}")
    assert(counts() == beforeCounts, "summed counts must be unchanged")
    assert(probe(None) == before && probe(Some("b2")) == beforeB2,
      "probe results must be byte-identical before/after, with and " +
        "without the in-flight exclusion")
    // idempotent: nothing left to fold
    assert(graft.ops.IndexMaintenance.consolidateLineDeltas(
      spark, s"$dir/lines_idx", s"$dir/ckpt").isEmpty)
  }

  test("consolidateParagraphDeltas folds committed deltas, keeps in-flight ones, probes byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_paracons_")
    graft.ops.Dedup.buildParagraphIndex(Seq(
        (1L, "cookie banner para\n\nstanding one"),
        (2L, "cookie banner para\n\nstanding two")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/paras_idx", minDocFreq = 3)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.paragraphRemovalSink(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/paras_idx", s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((10L, "cookie banner para\n\nalpha uno"))
      q.processAllAvailable()
      mem.addData((11L, "promo para\n\nbeta dos"), (12L, "promo para\n\ngamma"))
      q.processAllAvailable()
    } finally q.stop()
    // an IN-FLIGHT delta: appended counts whose batch never committed
    graft.ops.Dedup.appendParagraphCounts(
      Seq((20L, "cookie banner para\n\nuncommitted")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/paras_idx", "b2")

    def probe(exclude: Option[String]) = graft.ops.Dedup
      .removeParagraphsAgainstIndex(spark,
        Seq((99L, "cookie banner para\n\npromo para\n\nnovel probe"))
          .toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/paras_idx", excludeToken = exclude)
      .select("doc_id", "clean_text", "n_paras", "n_removed")
      .as[(Long, String, Long, Long)].collect().toSet
    def deltaDirs() = new java.io.File(s"$dir/paras_idx/paras").list()
      .filter(_.startsWith("delta=")).map(_.stripPrefix("delta=")).toSet
    def counts() = spark.read.parquet(s"$dir/paras_idx/paras")
      .groupBy("ph").agg(sum("df").as("df"))
      .as[(String, Long)].collect().toSet

    val (before, beforeB2, beforeCounts) =
      (probe(None), probe(Some("b2")), counts())
    assert(deltaDirs() == Set("base", "b0", "b1", "b2"))
    val folded = graft.ops.IndexMaintenance.consolidateParagraphDeltas(
      spark, s"$dir/paras_idx", s"$dir/ckpt")
    assert(folded.toSet == Set("b0", "b1"),
      s"only the committed tokens fold: $folded")
    assert(deltaDirs() == Set("base", "b2"),
      s"in-flight b2 must survive as its own partition: ${deltaDirs().toSet}")
    assert(counts() == beforeCounts, "summed counts must be unchanged")
    assert(probe(None) == before && probe(Some("b2")) == beforeB2,
      "probe results must be byte-identical before/after, with and " +
        "without the in-flight exclusion")
    assert(graft.ops.IndexMaintenance.consolidateParagraphDeltas(
      spark, s"$dir/paras_idx", s"$dir/ckpt").isEmpty)
  }

  test("consolidateTokenBudgetState folds committed spend, keeps the in-flight delta, admissions byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpDir("graft_tbcons_")
    val budgets = Map("srcA" -> 20L, "srcB" -> 6L)
    // arm A consolidates between restarts; arm B is the untouched control
    val arms = Seq("A", "B").map { arm =>
      graft.ops.Sampling.buildTokenBudgetState(spark, s"$dir/state$arm", budgets)
      val mem = MemoryStream[(Long, String, Long)]
      val start = () => graft.streaming.Streams.tokenBudgetGateSink(spark,
        mem.toDF().toDF("doc_id", "source", "n_tok"),
        "doc_id", "source", "n_tok",
        s"$dir/state$arm", s"$dir/out$arm", s"$dir/ckpt$arm")
      (mem, start)
    }
    def runBatch(data: (Long, String, Long)*): Unit =
      arms.foreach { case (mem, start) =>
        mem.addData(data: _*)
        val q = start(); try q.processAllAvailable() finally q.stop()
      }
    // two COMMITTED batches (real checkpoint commits/, not a fake)
    runBatch((1L, "srcA", 5L), (2L, "srcA", 5L), (10L, "srcB", 3L)) // b0
    runBatch((3L, "srcA", 4L))                                      // b1
    // the crash-window in-flight delta: batch 2's spend landed, its
    // commit marker did not — both arms carry the identical row
    Seq("A", "B").foreach { arm =>
      Seq(("srcA", 2L, 3L)).toDF("key", "batch_id", "tokens")
        .write.mode("append").parquet(s"$dir/state$arm/committed")
    }
    val folded = IndexMaintenance.consolidateTokenBudgetState(
      spark, s"$dir/stateA", s"$dir/ckptA")
    assert(folded == Seq(0L, 1L), s"both committed batches fold: $folded")
    val consA = spark.read.parquet(s"$dir/stateA/committed")
      .as[(String, Long, Long)].collect().toSet
    assert(consA == Set(("srcA", 1L, 14L), ("srcB", 1L, 3L), ("srcA", 2L, 3L)),
      s"one folded row per stratum at the committed offset + the kept " +
        s"in-flight delta: $consA")
    assert(IndexMaintenance.dataFileCount(spark, s"$dir/stateA/committed") == 1,
      "the O(batches) file growth is the thing being bounded")
    // idempotent: a second pass has nothing new to fold
    assert(IndexMaintenance.consolidateTokenBudgetState(
      spark, s"$dir/stateA", s"$dir/ckptA").isEmpty)
    // restart both arms: batch 2 admits exactly the in-flight delta's
    // spend (the replay's re-append collapses against it via DISTINCT),
    // batch 3 spends both strata to their edges
    runBatch((4L, "srcA", 3L))                                      // b2
    runBatch((5L, "srcA", 2L), (6L, "srcA", 9L), (11L, "srcB", 3L)) // b3
    def admissions(arm: String) = spark.read.parquet(s"$dir/out$arm")
      .as[(Long, String, Long)].collect().toSet
    assert(admissions("A") == admissions("B"),
      s"admissions must be byte-identical with and without consolidation: " +
        s"${admissions("A")} vs ${admissions("B")}")
    // and the spend views agree at every future cutoff
    for (cut <- Seq(3L, 4L)) {
      def spend(arm: String) = spark.read.parquet(s"$dir/state$arm/committed")
        .where(col("batch_id") < cut).distinct()
        .groupBy(col("key")).agg(sum(col("tokens")).as("t"))
        .as[(String, Long)].collect().toSet
      assert(spend("A") == spend("B"), s"cutoff $cut: ${spend("A")} vs ${spend("B")}")
    }
    // srcB spent exactly to its 6-token budget across the run
    assert(admissions("A").count(_._2 == "srcB") == 2)
  }

  test("exact-key index invariant: the Bloom filter covers every persisted key (no false negatives)") {
    val dir = tmpDir("graft_bloominv_")
    Dedup.buildExactKeyIndex(
      (1L to 40L).map(i => (i, s"seed doc $i")).toDF("doc_id", "text"), "text", dir)
    (0 until 4).foreach { b =>
      Dedup.appendExactKeys(spark,
        (500L + b * 10 until 500L + b * 10 + 7)
          .map(i => (i, s"batch $b doc $i")).toDF("doc_id", "text"),
        "text", dir)
    }
    // bloom ⊇ keys/ is the crash-safety contract appendExactKeys' write
    // order exists for: a key the filter does not know would be silently
    // admitted as "definitely new" forever
    val bloom = Dedup.readBloom(spark, dir)
    val missed = spark.read.parquet(s"$dir/keys").as[String].collect()
      .filterNot(bloom.mightContainString)
    assert(missed.isEmpty,
      s"persisted keys absent from the Bloom filter (false negatives): ${missed.take(5).toList}")
  }

  test("ivfTopK setup is one driver job (seed sample + query vector unioned)") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      // construction alone runs the bounded setup fetch; the returned plan
      // is lazy — so every job counted here is setup cost
      Similarity.ivfTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
        nCells = 8, nProbe = 2)
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
      assert(jobs.get() == 1, s"IVF setup must be a single driver job, saw ${jobs.get()}")
    } finally sc.removeSparkListener(listener)
  }

  test("probe paths agree: point vs batch per float layout; reranks at full kCand equal brute force") {
    val dir = tmpDir("graft_probeagree_")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", s"$dir/ivf", nCells = 16)
    Similarity.buildLshIndex(emb, "vec_id", "embedding", s"$dir/lsh", dim = dim, nBits = 6)
    Similarity.buildPqIndex(emb, "vec_id", "embedding", s"$dir/pq", m = 4, nCodes = 8)
    emb.write.mode("overwrite").parquet(s"$dir/queries_src")
    val queries = spark.read.parquet(s"$dir/queries_src")
      .filter(col("vec_id").isin(0L, 50L, 150L))
    val k = 11
    val kCand = 200 // the whole corpus: stage 1 can miss nothing
    assert(emb.count() == kCand)
    def query0(join: org.apache.spark.sql.DataFrame) =
      join.filter(col("q_id") === 0L).drop("q_id")
    // (case, expected, actual): rows compared as (id, score) or
    // (q_id, id, score) sets
    val cases = Seq(
      ("ivfIndexTopK vs ivfIndexKnnJoin",
        Similarity.ivfIndexTopK(spark, s"$dir/ivf", "vec_id", "embedding", qv,
          k = k, nProbe = 4),
        query0(Similarity.ivfIndexKnnJoin(spark, s"$dir/ivf", "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k, nProbe = 4))),
      ("lshIndexTopK vs lshIndexKnnJoin",
        Similarity.lshIndexTopK(spark, s"$dir/lsh", "vec_id", "embedding", qv,
          dim = dim, k = k, nBits = 6),
        query0(Similarity.lshIndexKnnJoin(spark, s"$dir/lsh", "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k, dim = dim, nBits = 6))),
      ("pqIndexTopKRerank vs bruteForceTopK",
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, k),
        Similarity.pqIndexTopKRerank(spark, s"$dir/pq", emb, "vec_id", "embedding",
          qv, k = k, kCand = kCand)),
      ("pqIndexKnnJoinRerank vs bruteKnnJoin",
        Similarity.bruteKnnJoin(emb, queries, "vec_id", "embedding",
          "vec_id", "embedding", k = k),
        Similarity.pqIndexKnnJoinRerank(spark, s"$dir/pq", emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k, kCand = kCand)))
    cases.foreach { case (name, expected, actual) =>
      val want = expected.collect().toSet
      assert(want.nonEmpty, s"$name: empty expectation")
      assert(actual.collect().toSet == want, s"$name: rows differ")
    }
  }

  test("LSH index: driver-side bucket matches the expression's bucket") {
    val fromExpr = emb.filter(col("vec_id") === 0L)
      .select(graft.functions.VectorFunctions.lshBucket(
        transform(col("embedding"), _.cast("double")), dim, 6).as("b"))
      .as[String].collect().head
    val onDriver = org.apache.spark.sql.graft.RandomHyperplanes.bucketOf(qv, dim, 6)
    assert(fromExpr == onDriver,
      "probe selection must agree with the stored bucket assignment")
  }
}
