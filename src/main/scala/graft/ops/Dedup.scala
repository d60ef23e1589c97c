package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * The reference's dedup surface is whatever SQL its backing engine runs
  * (SURVEY.md §2.5, Q24); at training-data scale the interesting variants
  * are near-duplicate detectors. All hashes here are md5 — chosen because
  * it is deterministic, available identically in Spark and in the DuckDB
  * oracle, and (unlike `hash()`/`xxhash64`) engine-portable, so every
  * operator below is oracle-checkable end to end.
  *
  * Scale notes (100 TB design point), per operator:
  *  - exact:    one hash-shuffle on the dedup key; map-side partial
  *    aggregation bounds shuffle volume by #distinct keys.
  *  - minhash:  per-doc signatures are tiny (k hashes); the LSH band
  *    self-join shuffles on (band, bucket) so only colliding docs meet —
  *    never the O(n²) all-pairs. Skewed buckets (boilerplate text) are
  *    dropped by the `maxBucket` guard in [[lshCandidates]].
  *  - simhash:  one projection (custom SimHashBits expression); grouping
  *    equal fingerprints is one shuffle on a 16-char key.
  *  - ngram Jaccard: exact all-pairs on shingle-colliding docs only
  *    (inverted-index join), used as the verifier behind minhash LSH.
  */
object Dedup {

  /** Distinct w-shingles per doc AS A SET COLUMN: (doc_id, set, n).
    * Computed entirely with array higher-order functions — a narrow
    * projection, NO shuffle (the exploded+distinct formulation costs a
    * full shuffle of every shingle occurrence). Guarded for docs shorter
    * than w tokens (Spark's `sequence(1,0)` would count DOWN, so the guard
    * is required, not cosmetic). Docs with no shingles drop out, matching
    * the exploded form.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, w: Int = 3): DataFrame =
    // the explicit null screen is semantically redundant (a null text
    // yields a null set, which size(set) > 0 already drops) but it is
    // the PUSHABLE form: IsNotNull reaches the parquet scan as a
    // PushedFilter, where the expression filter on the shingle array
    // cannot — and the shingle expression never evaluates on null rows
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions.wordShingles(col(textCol), w).as("set"))
      .filter(size(col("set")) > 0)
      .withColumn("n", size(col("set")).cast("long"))

  /** Exploded (doc_id, shingle) view — the inverted-index shape used for
    * candidate-pair discovery.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, w: Int = 3): DataFrame =
    shingleSets(df, idCol, textCol, w)
      .select(col("doc_id"), explode(col("set")).as("s"))

  /** Exact dedup: one representative row (min id) per identical value of
    * `keyCol`. Equivalent SQL: GROUP BY key. Single shuffle, map-side
    * combine; at 100 TB prefer hashing the key first (md5) so the shuffle
    * key is fixed-width instead of document-sized.
    */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.select(col(idCol), md5(col(keyCol)).as("_k"))
      .groupBy(col("_k"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))
      .select(col(idCol), col("_k").as("content_hash"), col("n_dupes"))

  /** MinHash signature: for seed i in [0, k), min over shingles of
    * md5("i|" + shingle). Hex-string min == numeric min on the uniform
    * md5 space; identical in DuckDB, which makes LSH oracle-checkable.
    * Computed per-row from the set column (array_min over a transform) —
    * a projection, NOT a groupBy: zero shuffles.
    */
  def minHashSignatures(sets: DataFrame, k: Int): DataFrame = {
    val sigs = (0 until k).map(i =>
      array_min(transform(col("set"), s => md5(concat(lit(s"$i|"), s)))).as(s"mh$i"))
    sets.select(col("doc_id") +: sigs: _*)
  }

  /** LSH candidate pairs: band the k-minhash signature into `bands` bands
    * of k/bands rows each; docs sharing any (band, bucket-hash) are
    * candidates. Returns (d1, d2) with d1 < d2, distinct.
    *
    * `maxBucket` is the skew guard: a degenerate bucket (boilerplate text
    * — "click here to unsubscribe" — hashing thousands of docs into one
    * (band, h)) would emit O(b²) join rows and dominate the job. Buckets
    * above the cap are dropped from candidate discovery (standard suspect-
    * bucket filtering); their members still pair up via any non-degenerate
    * band. The count rides the (band, h) partitioning already required by
    * the join, as a window — no extra shuffle.
    */
  def lshCandidates(sig: DataFrame, k: Int, bands: Int,
                    maxBucket: Int = 1000): DataFrame =
    candidatesFromBandKeys(bandKeys(sig, k, bands), maxBucket)

  /** The (doc_id, band, h) band-key rows of a k-minhash signature table —
    * the projection [[buildTextIndex]] persists.
    */
  def bandKeys(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws("", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)).as("h"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** Candidate pairs from (doc_id, band, h) band-key rows. */
  def candidatesFromBandKeys(keys: DataFrame, maxBucket: Int = 1000): DataFrame = {
    // The explicit repartition on the join keys makes both self-join
    // branches share ONE exchange (ReusedExchange): the whole
    // shingle→minhash→band chain is computed once, and the join needs no
    // further shuffle since the partitioning already matches.
    val banded = keys
      .repartition(col("band"), col("h"))
      .withColumn("_bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("h"))))
      .filter(col("_bn") <= maxBucket)
      .select(col("doc_id"), col("band"), col("h"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Exact w-shingle Jaccard for the given candidate pairs (the verify
    * stage behind LSH): two hash joins against the per-doc set column and
    * an `array_intersect` per pair — cost proportional to |pairs| ×
    * set-size, with no row explosion (the inverted-index re-join
    * formulation explodes every pair by every shingle and re-shuffles).
    */
  def jaccardForPairs(sets: DataFrame, pairs: DataFrame): DataFrame = {
    val s1 = sets.select(col("doc_id").as("d1"), col("set").as("set1"), col("n").as("n1"))
    val s2 = sets.select(col("doc_id").as("d2"), col("set").as("set2"), col("n").as("n2"))
    pairs
      .join(s1, "d1")
      .join(s2, "d2")
      .withColumn("i", size(array_intersect(col("set1"), col("set2"))).cast("long"))
      .select(
        col("d1"), col("d2"),
        (col("i").cast("double") / (col("n1") + col("n2") - col("i"))).as("jaccard"))
  }

  /** Lexical-dedup recall surface — the [[graft.ops.Similarity
    * .annRecall]] (q102) discipline carried to the MinHash-LSH family:
    * exact-Jaccard TRUTH pairs ([[ngramJaccard]], the quadratic-by-
    * contract truth op over a bounded audit slice) are banded into
    * `nBands` fixed similarity bands (band = ⌊j·nBands⌋ capped — the
    * fixed-cut convention, never quantiles) and each band reports how
    * many of its pairs the candidate screen surfaced. The output IS the
    * LSH S-curve — P(candidate | j) = 1 − (1 − j^r)^b — MEASURED on the
    * caller's corpus instead of assumed, so tuning q28's (k, bands,
    * threshold, w) stops being a defaults gamble: the band where recall
    * falls off the cliff is exactly where the screen starts missing
    * pairs the threshold still wants.
    *
    * Inputs by the pair-family convention: `truthPairs` (d1, d2,
    * jaccard — rounded, d1 < d2), `candPairs` (d1, d2, d1 < d2 — the
    * PRE-verify [[lshCandidates]] output; feeding the post-verify
    * [[minHashLsh]] output measures the same screen, since verify only
    * drops below-threshold pairs). Shape at 100 TB: one (d1, d2)-keyed
    * equi-join (truth is audit-bounded, AQE broadcasts it), then a
    * map-side-combined aggregate on the nBands-bounded key.
    * Deterministic → DuckDB hash-checked (q139).
    *
    * `scoreCol` names the [0,1] truth score to band on — `jaccard` by
    * default; pass `containment` to audit the screen against
    * [[containment]] truth instead (q142: the short-in-long pairs
    * minhash banding is BLIND to, measured rather than assumed away).
    */
  def dedupRecall(truthPairs: DataFrame, candPairs: DataFrame,
                  nBands: Int = 10, scale: Int = 6,
                  scoreCol: String = "jaccard"): DataFrame = {
    require(nBands >= 1, s"nBands must be positive: $nBands")
    val hits = candPairs.select(col("d1"), col("d2")).distinct()
      .withColumn("_hit", lit(1L))
    truthPairs
      .join(hits, Seq("d1", "d2"), "left")
      .select(least(lit(nBands - 1L),
          floor(col(scoreCol) * nBands).cast("long")).as("band"),
        coalesce(col("_hit"), lit(0L)).as("_h"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_truth"), sum(col("_h")).as("n_hit"))
      .select(col("band"),
        round(col("band").cast("double") / nBands, scale).as("j_lo"),
        col("n_truth"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth"), scale)
          .as("recall"))
  }

  /** The deterministic PLANTED LADDER the recall audits (q139/q142) run
    * over: a bounded slice of the corpus (`id % 4 = 0`, ≥ 12 words)
    * unioned with one perturbed twin per slice doc, where the twin's
    * similarity to its original is CONTROLLED by an 8-level ladder
    * (`level = (id % 32) / 4`):
    *
    *   - the twin keeps a PREFIX of `max(3, ⌊len·(0.25 + level·0.1)⌋)`
    *     words (shared shingles — the numerator of both jaccard and
    *     containment), and
    *   - appends `⌊p·(7−level)/7⌋` unique junk words (`j<id>_<i>` —
    *     never colliding across docs), which dilute the twin's shingle
    *     set (the denominator).
    *
    * Level 7 is a near-identical twin (jaccard ≈ 0.95, containment 1);
    * level 0 sits at the audit thresholds. The planted truth therefore
    * SPANS the similarity bands — jaccard ≈ 0.2…0.95 (≥ 6 bands),
    * max-containment ≈ 0.5…1.0 (≥ 5 bands) — so a recall audit over
    * this corpus hashes a full S-curve instead of the single band the
    * natural corpus's near-dups collapse into. Every arithmetic step is
    * plain IEEE double math on integer inputs, mirrored literally in
    * the DuckDB oracle, so the audit stays hash-checkable.
    *
    * Audit-slice sizing: the quarter-slice keeps the quadratic-by-
    * contract truth op BOUNDED (BASELINE.md round-14 growth curve); the
    * twin ids live at `idOffset` above the originals to stay disjoint.
    */
  def plantRecallLadder(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        idOffset: Long = 100000000L): DataFrame = {
    val base = docs
      .where(col(textCol).isNotNull && col(idCol) % 4 === 0)
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"), split(col(textCol), " ").as("_t"))
      .withColumn("_len", size(col("_t")))
      .where(col("_len") >= 12)
      .withColumn("_lvl", ((col("doc_id") % 32) / lit(4)).cast("int"))
    val p = greatest(lit(3),
      floor(col("_len") * (lit(0.25) + col("_lvl") * lit(0.1))).cast("int"))
    val q = floor(p * (lit(7) - col("_lvl")) / lit(7.0)).cast("int")
    val twins = base
      .withColumn("_p", p).withColumn("_q", q)
      // the twin id is computed ONCE into its own column: the junk
      // tokens embed it, and an inline `doc_id + offset` aliased back
      // to `doc_id` resolves ambiguously between the engines
      .withColumn("_tid", col("doc_id") + lit(idOffset))
      .select(col("_tid").as("doc_id"),
        concat(
          array_join(slice(col("_t"), lit(1), col("_p")), " "),
          when(col("_q") > 0,
            concat(lit(" "),
              array_join(transform(sequence(lit(1), col("_q")),
                i => concat(lit("j"), col("_tid"), lit("_"), i)), " ")))
            .otherwise(lit(""))).as("text"))
    base.select(col("doc_id"), col("text")).unionByName(twins)
  }

  /** The one-row operating-point summary over the same two pair sets as
    * [[dedupRecall]]: candidate-screen recall AGAINST the truth
    * (missed true pairs stay duplicated in the corpus) and precision
    * OF the screen (sub-threshold candidates are pure verify cost —
    * every one pays an exact-Jaccard evaluation). The pair of numbers
    * a banding change actually trades. Three bounded scalar aggregates
    * attached by 1-row cross joins (the documented scalar-total
    * carve-out); the hit count is one (d1, d2)-keyed semi-join.
    * Deterministic → DuckDB hash-checked (q140).
    */
  def dedupScreenSummary(truthPairs: DataFrame, candPairs: DataFrame,
                         scale: Int = 6): DataFrame = {
    val cand = candPairs.select(col("d1"), col("d2")).distinct()
    val truth = truthPairs.select(col("d1"), col("d2"))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    val nH = truth.join(cand, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(nC).crossJoin(nH)
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_cand"), scale)
          .as("precision"),
        round(col("n_hit").cast("double") / col("n_truth"), scale)
          .as("recall"))
  }

  /** MinHash + LSH near-duplicate pipeline: shingle-sets → sign → band →
    * candidate pairs → exact-Jaccard verify ≥ `threshold`. Shuffles only
    * at the band self-join and the two verify joins — signature
    * computation is projection-only.
    */
  def minHashLsh(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    // Repartition once by doc_id: the signature branch and BOTH verify
    // joins then hang off the same reused exchange, so shingle sets are
    // computed exactly once across the whole pipeline.
    val sets = shingleSets(df, idCol, textCol, w).repartition(col("doc_id"))
    val cand = lshCandidates(minHashSignatures(sets, k), k, bands, maxBucket)
    jaccardForPairs(sets, cand)
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** Cross-source contamination matrix: near-dup pair counts per
    * unordered (source, source) cell — the dataset-audit view that says
    * WHERE duplication lives (a hot diagonal cell = a self-duplicating
    * dump; a hot off-diagonal cell = two dumps crawling the same sites,
    * the thing mixture weights silently double-count). Source order is
    * normalized (least/greatest) so each cell counts one triangle.
    *
    * Cost on top of [[minHashLsh]]: two id-key joins to attach sources
    * (the pair side is the small side — true near-dup pairs, not the
    * corpus) and one aggregation on the (src, src) key, whose
    * cardinality is #sources² — broadcast-sized output.
    */
  def contaminationMatrix(docs: DataFrame, idCol: String, textCol: String,
                          srcCol: String, w: Int = 3, k: Int = 8,
                          bands: Int = 4, threshold: Double = 0.5,
                          maxBucket: Int = 1000): DataFrame = {
    val pairs = minHashLsh(docs, idCol, textCol, w, k, bands, threshold, maxBucket)
    val src = docs.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("d1"), col(srcCol).as("_s1")), "d1")
      .join(src.select(col(idCol).as("d2"), col(srcCol).as("_s2")), "d2")
      .select(least(col("_s1"), col("_s2")).as("src_a"),
        greatest(col("_s1"), col("_s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SimHash fingerprint (16-bit, majority vote per bit over token md5s).
    * Bit i of a token = high bit of hex digit i of md5(token); fingerprint
    * bit i = 1 iff strictly more than half the token occurrences set it.
    * Output: (doc_id, simhash: 16-char '0'/'1' string, n_dupes = docs
    * sharing the fingerprint).
    *
    * The fingerprint is ONE projection (custom SimHashBits expression);
    * the only shuffle is the n_dupes window on the 16-char fingerprint.
    * The round-1 explode+groupBy form shuffled every token occurrence of
    * the corpus — a full-corpus shuffle for per-row math.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    df.where(col(textCol).isNotNull) // explode-form dropped null-text docs; keep that contract
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions.simHashBits(col(textCol), bits).as("simhash"))
      .withColumn("n_dupes",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))))

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into keep/drop decisions: docs transitively linked
    * through any chain of pairs form one cluster, labelled by its minimum
    * doc id (the conventional representative).
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbours; converges in
    * O(component diameter) rounds — near-dup clusters are shallow (a hub
    * document links its variants), so a handful of rounds suffices.
    * Each round is one join + one aggregation, both on the node key, and
    * labels are `localCheckpoint`ed to truncate lineage — without it the
    * plan doubles every iteration and analysis time explodes by round 10.
    * If the graph turns out deeper than `maxIter` (diameter > rounds), the
    * result would be silently split — so non-convergence falls back to
    * [[componentsStar]], which converges in O(log n) rounds regardless of
    * diameter.
    *
    * Input: (d1, d2) pairs. Output: (doc_id, cluster) for every doc
    * appearing in at least one pair; docs in no pair are their own
    * singleton cluster by definition and are not emitted.
    *
    * Pair sets at or below `localThreshold` solve on the driver in one
    * union-find pass over the already-materialized checkpoint
    * (a bounded collect, like the IVF centroid fetch): iterative rounds
    * on a small graph cost more in job scheduling than the whole
    * answer. Above the threshold the distributed propagation runs
    * unchanged — near-dup pair sets at 100 TB can be billions of edges,
    * and that is the path sized for them. Pass 0 to force distributed.
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
                 localThreshold: Long = LocalCcThreshold): DataFrame = {
    val p = pairs.select(col("d1"), col("d2")).localCheckpoint(true)
    if (isLongPair(p) && p.count() <= localThreshold)
      return localComponents(p)
    // p is already materialized, so the doubled view is a narrow re-read
    val edges = p.select(col("d1").as("u"), col("d2").as("v"))
      .union(p.select(col("d2").as("u"), col("d1").as("v")))
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, edges("v") === labels("node"))
        .groupBy(col("u")).agg(min(col("label")).as("_nl"))
      // the changed flag rides the SAME join that builds the next labels,
      // so the convergence test is a trivial scan of the materialized
      // checkpoint instead of a per-round re-join of old vs new
      val next = labels.join(neighborMin, labels("node") === neighborMin("u"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("_nl"), col("label"))).as("label"),
          (coalesce(col("_nl"), col("label")) < col("label")).as("_chg"))
        .localCheckpoint(true)
      converged = next.filter(col("_chg")).isEmpty
      labels = next.drop("_chg")
      iter += 1
    }
    if (!converged) {
      // a silent iter-limit exit would return SPLIT clusters (labels not
      // yet propagated across a diameter > maxIter chain) as if correct —
      // hand the deep graph to the diameter-independent formulation
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components() hit maxIter=$maxIter without converging " +
          "(component diameter exceeds the round budget); falling back to " +
          "large-star/small-star (componentsStar)")
      return componentsStar(pairs, localThreshold = localThreshold)
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster"))
  }

  /** Pair count at or below which the component closure solves on the
    * driver: ~1M pairs collect to ~16 MB of longs — far cheaper than even
    * one distributed round's job scheduling — while anything beyond runs
    * the shuffle-based algorithms actually sized for billion-edge graphs.
    */
  val LocalCcThreshold: Long = 1L << 20

  /** The local fast path only applies to bigint ids: for any other id
    * type (int, string content hashes, …) the distributed algorithms —
    * which are type-agnostic — run regardless of size, so the
    * `localThreshold` default never narrows the public contract.
    */
  private def isLongPair(df: DataFrame): Boolean =
    df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)

  /** Bounded driver union-find over a collected pair list (rows are
    * undirected (a, b) links, one row per pair — no doubled view).
    * Collected as specialized (Long, Long) tuples, ~32 B/pair on the
    * driver at the threshold. Union-by-smaller-root with path
    * compression, so every root IS its component's minimum id — the same
    * labelling the distributed fixpoints reach (equivalence spec-pinned
    * on seeded graphs).
    */
  private def localComponents(pairRows: DataFrame): DataFrame = {
    val sp = pairRows.sparkSession
    import sp.implicits._
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    def find(x0: Long): Long = {
      var r = x0
      while (parent.get(r).longValue != r) r = parent.get(r).longValue
      var c = x0
      while (c != r) { val nx = parent.get(c).longValue; parent.put(c, r); c = nx }
      r
    }
    pairRows.as[(Long, Long)].collect().foreach { case (u, v) =>
      add(u); add(v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet().forEach(k => out += ((k.longValue, find(k.longValue))))
    out.toSeq.toDF("doc_id", "cluster")
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the billion-edge formulation: converges in
    * O(log n) rounds independent of component diameter, where min-label
    * propagation ([[components]]) needs O(diameter) rounds and dies on a
    * long chain.
    *
    * Edges are kept oriented larger→smaller id. Per round:
    *  - large-star: every node links each strictly-larger neighbour to the
    *    minimum of its closed neighbourhood (one groupBy + one equi-join on
    *    the node key);
    *  - small-star: every node links its smaller neighbours — and itself —
    *    to their minimum (same shape, grouped on the larger endpoint).
    * At the fixpoint the edge set is exactly the star of each component
    * centred on its minimum id, which is read off as the labelling. Same
    * contract as [[components]]: (doc_id, cluster) for every doc in ≥1
    * pair, cluster = min doc id of the component.
    */
  def componentsStar(pairs: DataFrame, maxIter: Int = 30,
                     localThreshold: Long = LocalCcThreshold): DataFrame = {
    // self-pairs carry no connectivity but do declare the node: keep them
    // aside so the output node set matches components() exactly
    val selfNodes = pairs.filter(col("d1") === col("d2"))
      .select(col("d1").as("doc_id"), col("d1").as("cluster")).distinct()
    var edges = pairs.filter(col("d1") =!= col("d2"))
      .select(greatest(col("d1"), col("d2")).as("u"), least(col("d1"), col("d2")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var iter = 0
    var edgeCount = edges.count()
    if (edgeCount > 0 && edgeCount <= localThreshold && isLongPair(edges)) {
      // small graph: one driver union-find over the materialized
      // checkpoint beats any number of distributed star rounds
      val labels = localComponents(edges)
      return labels.union(
        selfNodes.join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }
    var converged = edgeCount == 0
    while (!converged && iter < maxIter) {
      // large-star over the symmetric adjacency
      val adj = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val nbrMin = adj.groupBy(col("a")).agg(min(col("b")).as("_mb"))
        .select(col("a"), least(col("_mb"), col("a")).as("m"))
      val ls = adj.join(nbrMin, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star on the larger endpoint (edges already larger→smaller)
      val smallMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withMin = ls.join(smallMin, "u")
      val ss = withMin
        .select(col("v").as("u"), col("m").as("v"))
        .union(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // fixpoint test: same orientation + distinct on both sides, so
      // equality ⇔ one-way difference empty and counts equal (the
      // previous round's count is reused — two actions per round, not
      // three)
      val ssCount = ss.count()
      converged = ssCount == edgeCount && ss.except(edges).isEmpty
      edgeCount = ssCount
      edges = ss
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"componentsStar() hit maxIter=$maxIter without a stable edge set; " +
          "labels may be split — raise maxIter")
    val starLabels = edges.select(col("u").as("doc_id"), col("v").as("cluster"))
      .union(edges.select(col("v"), col("v")).distinct())
      .distinct()
    // self-pair-only nodes label themselves; nodes also in a real pair
    // already carry their component label (anti-join, not blind union)
    starLabels.union(
      selfNodes.join(starLabels.select(col("doc_id")), Seq("doc_id"), "left_anti"))
  }

  /** Benchmark decontamination — the training-data hygiene step: flag
    * corpus docs sharing at least `minHits` distinct w-gram shingles with
    * ANY benchmark/eval document (the n-gram-overlap rule used to scrub
    * eval sets out of pretraining corpora). Output: (doc_id, n_hits) for
    * flagged docs.
    *
    * Shape at 100 TB: shingling is a projection on both sides (no
    * shuffle); the benchmark shingle set is `distinct`-ed at eval-suite
    * size — tiny next to the corpus, so the join broadcasts. The
    * boilerplate guard (a shingle whose corpus document frequency
    * exceeds `maxDf` is boilerplate, not contamination — same skew guard
    * as [[ngramJaccard]]) runs AFTER the benchmark join: for a matched
    * shingle every corpus occurrence survives the join, so its df over
    * the matched subset equals its corpus df — identical semantics, but
    * the df window shuffles only benchmark-matching occurrences instead
    * of the entire corpus shingle set.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, w: Int = 3, maxDf: Int = 1000,
                    minHits: Int = 1): DataFrame = {
    val corpusSh = shingles(corpus, idCol, textCol, w)
    val benchSh = shingles(benchmark, idCol, textCol, w)
      .select(col("s")).distinct()
    // shingles are distinct per doc already (wordShingles emits a set),
    // so the post-join count IS the distinct overlap size
    corpusSh.join(benchSh, "s")
      .withColumn("_df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .filter(col("_df") <= maxDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Persist the text-dedup preprocessing — the standing-corpus form of
    * [[minHashLsh]], extending the persisted-index story (IVF/LSH vector
    * layouts) to the TEXT family. Two tables under `path`:
    *
    *   `sets/`  — (doc_id, set, n): distinct shingle sets (the verify
    *              side), so re-runs never re-tokenize the corpus;
    *   `bands/` — (doc_id, band, h): banded minhash keys, partitioned by
    *              band, so candidate mining reads fixed-width keys only
    *              and a single band can be (re)processed alone.
    *
    * At 100 TB the tokenize+md5 pass IS the dominant CPU of every dedup
    * run; a pipeline that clusters (q41/q42), picks representatives
    * (q53) and re-screens with different thresholds pays it once here
    * instead of per query. Deterministic (md5 minhash), so an index
    * rebuild reproduces itself bit-for-bit.
    */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, w: Int = 3, k: Int = 8,
                     bands: Int = 4): Unit = {
    val sets = shingleSets(docs, idCol, textCol, w)
    sets.write.mode("overwrite").parquet(s"$path/sets")
    bandKeys(minHashSignatures(sets, k), k, bands)
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
    // the frozen-geometry meta every persisted layout carries: probes
    // don't need it (band keys are self-describing), but rebanding and
    // sink-start consistency checks do
    graft.ops.Similarity.writeIndexMeta(docs.sparkSession, path, Seq(
      "layout" -> "text_dedup", "w" -> w.toString, "k" -> k.toString,
      "bands" -> bands.toString))
  }

  /** Re-derive `bands/` from the persisted `sets/` under a NEW (k,
    * bands) geometry — the tuning loop [[dedupRecall]] (q139) closes:
    * audit the screen, pick a banding off the measured S-curve, reband,
    * re-audit — all WITHOUT re-tokenizing the corpus (minhash
    * signatures are a projection of the stored set column; the
    * tokenize+md5 pass that dominates dedup cost is never re-paid).
    * Shingle width `w` is NOT retunable here — changing it needs the
    * original text (a rebuild with the original builder). The swap is
    * the staged two-rename discipline ([[graft.ops.IndexMaintenance
    * .compact]]); run with dependent sinks stopped, like every
    * frozen-geometry refresh.
    *
    * Crash order (the fail-closed discipline the sink check depends
    * on): a `rebanding` tombstone lands in `meta` BEFORE the bands
    * swap, and the final meta (new geometry, no tombstone) lands only
    * AFTER it. A crash anywhere in between leaves the tombstone, and
    * [[graft.streaming.Streams.textIndexSink]] refuses to start on a
    * tombstoned layout — no window exists where meta vouches for a
    * geometry the bands don't carry. Recovery = re-run the reband, in
    * EVERY crash window (bands re-derive from the unchanged sets; a
    * crash between the swap's two renames resumes via the staged copy —
    * [[graft.ops.IndexMaintenance.stageAndSwap]] — which is safe to
    * promote only because the guard below drops it when the re-run
    * requests a different geometry than the crashed run staged).
    *
    * Requires the layout meta contract (`buildTextIndex` writes it):
    * a pre-meta layout's shingle width is unknowable here, and
    * stamping a default would make the sink check reject the true `w`
    * — rebuild once with the original builder to adopt meta first.
    */
  def rebandTextIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, k: Int, bands: Int): Unit = {
    require(k >= 1 && bands >= 1 && k % bands == 0,
      s"bad banding: k=$k must be a positive multiple of bands=$bands")
    val meta = graft.ops.Similarity.readIndexMeta(spark, path)
    require(meta.get("layout").contains("text_dedup"),
      s"not a text_dedup layout: $path (meta ${meta.get("layout")}; a " +
        "pre-meta layout must be rebuilt once with buildTextIndex to " +
        "adopt the meta contract before rebanding)")
    val w = meta.getOrElse("w", throw new IllegalArgumentException(
      s"text_dedup layout at $path carries no shingle width in meta — " +
        "rebuild with buildTextIndex rather than guess w"))
    val sets = spark.read.parquet(s"$path/sets")
    // tombstone first: from here until the final meta write, sink
    // starts fail closed instead of trusting a possibly-stale geometry
    val priorTombstone = meta.get("rebanding")
    graft.ops.Similarity.writeIndexMeta(spark, path, Seq(
      "layout" -> "text_dedup", "w" -> w,
      "k" -> meta.getOrElse("k", k.toString),
      "bands" -> meta.getOrElse("bands", bands.toString),
      "rebanding" -> s"$k/$bands"))
    // mid-swap resume guard: if an earlier reband crashed BETWEEN the
    // swap's two renames (bands/ absent, staged copy complete),
    // stageAndSwap resumes by promoting the staged copy — which carries
    // the CRASHED run's geometry (the prior tombstone). Promoting it
    // under a different requested geometry would stamp meta with keys
    // the bands don't carry, so drop the stale copy and restage (sets/
    // is intact — restaging is exactly the normal reband work).
    locally {
      val bandsP = new org.apache.hadoop.fs.Path(s"$path/bands")
      val fs = bandsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmpP = new org.apache.hadoop.fs.Path(s"$path/bands_compact_tmp")
      if (!fs.exists(bandsP) && fs.exists(tmpP) &&
          !priorTombstone.contains(s"$k/$bands"))
        require(fs.delete(tmpP, true),
          s"reband aborted: stale staged copy at $tmpP (geometry " +
            s"${priorTombstone.getOrElse("unknown")}) could not be dropped")
    }
    graft.ops.IndexMaintenance.stageAndSwap(spark, s"$path/bands") { tmp =>
      // overwrite: a crashed earlier reband may have left a stale
      // staged copy — the documented recovery is re-run, so the stage
      // write must clobber it
      bandKeys(minHashSignatures(sets, k), k, bands)
        .write.mode("overwrite").partitionBy("band").parquet(tmp)
    }
    graft.ops.Similarity.writeIndexMeta(spark, path, Seq(
      "layout" -> "text_dedup", "w" -> w, "k" -> k.toString,
      "bands" -> bands.toString))
  }

  /** [[minHashLsh]] served from a [[buildTextIndex]] layout: same output
    * (pair-identical, same oracle), zero re-tokenization — candidate
    * mining reads `bands/`, the exact-Jaccard verify reads `sets/`.
    * `threshold`/`maxBucket` are probe-time parameters: re-screening at a
    * different strictness is a re-read, not a rebuild.
    */
  def minHashLshFromIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, threshold: Double = 0.5,
                          maxBucket: Int = 1000): DataFrame = {
    val sets = spark.read.parquet(s"$path/sets").repartition(col("doc_id"))
    val cand = candidatesFromBandKeys(
      spark.read.parquet(s"$path/bands"), maxBucket)
    jaccardForPairs(sets, cand)
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** [[dedupRecall]] served from a [[buildTextIndex]] layout — audit
    * the STANDING screen without re-tokenizing anything: candidates
    * come from the persisted `bands/` (fixed-width keys, one
    * bucket-capped self-join), truth from exact Jaccard over the
    * persisted `sets/` restricted to shingle-colliding pairs. The
    * deployment form of the audit: after a [[textIndexSink]] stream
    * has grown the index, "is the banding still holding recall on
    * what actually arrived" is one index read, not a corpus re-scan.
    * `truthThreshold` bounds the truth side exactly as [[ngramJaccard]]
    * does; `maxDf` is the inverted-index skew guard.
    *
    * `sample` < 1 restricts the audit to a DETERMINISTIC md5-coin slice
    * of documents (salted so it is independent of every sampler's
    * md5(id) coin) — the audit is quadratic-by-contract, and a standing
    * deployment re-auditing per N ingest batches
    * ([[graft.streaming.Streams.textIndexCardSink]]) sizes the slice,
    * not the corpus, into the audit (the BASELINE.md slice-sizing
    * rule). Both the truth side and the candidate side see the SAME
    * slice, so recall stays an unbiased within-slice measurement.
    */
  def dedupRecallFromIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, truthThreshold: Double = 0.2,
                           nBands: Int = 10, maxBucket: Int = 1000,
                           maxDf: Int = 1000,
                           sample: Double = 1.0): DataFrame = {
    require(sample > 0 && sample <= 1, s"sample out of range: $sample")
    val allSets = spark.read.parquet(s"$path/sets")
    val allBands = spark.read.parquet(s"$path/bands")
    val (sets, bandKeysDf) =
      if (sample >= 1.0) (allSets, allBands)
      else {
        val thr = graft.ops.Sampling.hexThreshold(sample)
        def keep(df: DataFrame) = df.where(
          md5(concat(col("doc_id").cast("string"), lit("|dedup_audit")))
            < lit(thr))
        (keep(allSets), keep(allBands))
      }
    // exact truth from the persisted sets — the ngramJaccard statement
    // over the layout instead of raw text
    val truth = ngramJaccardFromSets(sets, truthThreshold, maxDf)
    val cand = candidatesFromBandKeys(bandKeysDf, maxBucket)
    dedupRecall(truth, cand, nBands)
  }

  /** Persist the standing corpus's EXACT-dedup key index — the
    * ingest-time form of [[exact]], completing the persisted-index family
    * (IVF/LSH vector layouts, [[buildTextIndex]]): every admitted batch
    * is screened against the corpus it joins, without ever re-hashing the
    * corpus. Two artifacts under `path`:
    *
    *   `keys/`  — (key: md5 hex) distinct content hashes, fixed-width;
    *   `bloom/` — one serialized Bloom filter over those keys (`fpp`),
    *              rebuilt with the index (a stale filter would miss
    *              newly-admitted keys — no-false-negatives is the whole
    *              contract, so refresh = rebuild, like IVF centroids).
    *
    * Null-text docs contribute no key: they can never collide, and the
    * probe side admits them unconditionally.
    *
    * `expectedKeys` floors the Bloom sizing below (first-ingest
    * deployments build over an EMPTY or tiny seed corpus; sizing the
    * filter to what was present would saturate it within a few streamed
    * appends — every probe then degrades to the verify join until a
    * manual rebuild). Size it to the corpus you expect to ADMIT before
    * the next scheduled rebuild; [[keyIndexCard]]'s `utilization`
    * column is the live reading against whichever sizing won.
    */
  def buildExactKeyIndex(docs: DataFrame, textCol: String, path: String,
                         fpp: Double = 0.01, expectedKeys: Long = 0L): Unit =
    buildKeyIndexImpl(docs, md5(col(textCol)), path, fpp, expectedKeys)

  /** [[buildExactKeyIndex]] keyed on a PRECOMPUTED key column instead
    * of a content hash — the layout behind digest-keyed crawl
    * admission (`WARC-Payload-Digest` is already the fixed-width
    * content key; re-hashing payloads would waste the crawler's work).
    * Same `keys/` + `bloom/` + `params/` artifacts, so the append and
    * probe machinery is shared verbatim. `expectedKeys` floors the
    * Bloom sizing (see [[buildExactKeyIndex]] — without it a first
    * ingest over an empty seed sizes for max(1, 0) = 1 key and starts
    * permanently degraded).
    */
  def buildKeyIndex(docs: DataFrame, keyCol: String, path: String,
                    fpp: Double = 0.01, expectedKeys: Long = 0L): Unit =
    buildKeyIndexImpl(docs, col(keyCol), path, fpp, expectedKeys)

  private def buildKeyIndexImpl(docs: DataFrame, keyExpr: Column,
                                path: String, fpp: Double,
                                expectedKeys: Long): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where(keyExpr.isNotNull)
      .select(keyExpr.as("key")).distinct()
      .write.mode("overwrite").parquet(s"$path/keys")
    val keys = spark.read.parquet(s"$path/keys")
    val count = keys.count()
    // sizing floor: the caller's expected-capacity hint wins over the
    // observed count, so an empty/tiny seed build still gets a filter
    // sized for the corpus it will GROW into (per-batch append deltas
    // must share this sizing to stay mergeable — undersizing here is
    // permanent until a rebuild)
    val n = math.max(1L, math.max(count, expectedKeys))
    // first ingest builds over an EMPTY seed corpus (the streaming
    // sinks' documented precondition) — stat.bloomFilter NPEs on zero
    // rows, so write an empty filter with the same sizing params the
    // per-batch append deltas must merge into
    val bloom =
      if (count == 0)
        org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
      else keys.stat.bloomFilter("key", n, fpp)
    writeBloom(spark, bloom, path)
    // sizing params: streamed appends build per-batch filters with the
    // SAME (n, fpp) so their bit arrays are mergeable into this one
    Seq((n, fpp)).toDF("n", "fpp")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** One-row OPERATIONAL CARD over a key-index layout ([[
    * buildExactKeyIndex]]/[[buildKeyIndex]]) — the rebuild-trigger
    * signal: streamed appends merge per-batch Bloom deltas built with
    * the INDEX's original (n, fpp) sizing, so the filter's real false-
    * positive rate degrades as the held key count outgrows `sized_n`
    * (the no-false-negative contract survives; what grows is wasted
    * verify-join work on fpp noise). A deployment reads `utilization`
    * (keys held / keys sized for) per ingest epoch and rebuilds past
    * its threshold — the digest/exact admission gates' counterpart to
    * the IVF drift card. One bounded aggregation over `keys/` + one
    * `params` head — no filter deserialization needed.
    */
  def keyIndexCard(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val params = spark.read.parquet(s"$path/params")
      .select(col("n"), col("fpp")).head()
    // n_keys is the DISTINCT count (what the Bloom logically holds);
    // n_rows counts the appended files' rows — replayed batches can
    // re-append keys (the at-least-once contract), and the gap between
    // the two is the compaction signal. One exchange over fixed-width
    // keys, run per epoch — a card, not a per-batch probe.
    spark.read.parquet(s"$path/keys")
      .agg(countDistinct(col("key")).as("n_keys"),
        count(lit(1)).as("n_rows"))
      .select(col("n_keys"), col("n_rows"),
        lit(params.getLong(0)).as("sized_n"),
        lit(params.getDouble(1)).as("fpp_sized"),
        round(col("n_keys").cast("double") / params.getLong(0), 6)
          .as("utilization"))
  }

  /** Write-to-temp + overwrite-rename: an in-place overwrite would make
    * a crash mid-write destroy the ONLY copy of the standing filter
    * (bricking every future probe until a rebuild) — the opposite of
    * the "at worst extra bits" contract [[appendExactKeys]]' write
    * order promises. The swap uses `FileContext.rename(…, OVERWRITE)`.
    * How atomic that is depends on the filesystem: on HDFS-like stores
    * the overwrite rename is one metadata operation, so a crash leaves
    * either the old complete filter or the new complete filter, never
    * an absent or truncated one. The local-path deployment (and the
    * test FaultyFs) goes through `AbstractFileSystem`'s DEFAULT
    * `renameInternal(overwrite)`, which deletes the destination and
    * then renames — a crash inside that window leaves only
    * `_filter.bin.tmp`, and recovery is ONE rename of the complete tmp
    * file into place (the filter is still never truncated, merely
    * momentarily mis-named).
    */
  private def writeBloom(spark: org.apache.spark.sql.SparkSession,
                         bloom: org.apache.spark.util.sketch.BloomFilter,
                         path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bloom/filter.bin")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/bloom/_filter.bin.tmp")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(p),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private[graft] def readBloom(spark: org.apache.spark.sql.SparkSession,
                               path: String): org.apache.spark.util.sketch.BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bloom/filter.bin")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** Admit one micro-batch's keys into a [[buildExactKeyIndex]] layout:
    * MERGE a same-sized Bloom of the batch's distinct new keys into the
    * persisted filter, then append the keys to `keys/` — Bloom union is
    * bitwise-or, so the no-false-negative contract survives appends (the
    * filter can only get more inclusive; `fpp` degrades gradually as the
    * key count outgrows the original sizing — rebuild to re-size).
    *
    * Write ORDER is the crash-safety contract: the Bloom delta lands
    * BEFORE the keys append, so a crash between the two leaves at worst
    * a filter with extra bits — false positives, which the exact verify
    * join in [[exactDedupAgainstIndex]] already tolerates. The reverse
    * order would strand keys in `keys/` that the filter never learned:
    * a persistent false NEGATIVE that silently admits every future
    * duplicate of those keys. Backs
    * [[graft.streaming.Streams.exactKeyIndexSink]].
    */
  def appendExactKeys(spark: org.apache.spark.sql.SparkSession,
                      docs: DataFrame, textCol: String, path: String): Unit =
    appendKeysImpl(spark, docs, md5(col(textCol)), path)

  /** [[appendExactKeys]] for a [[buildKeyIndex]] layout — admit a
    * batch's PRECOMPUTED keys (crawl digests) into the standing index.
    * Same write order (filter first, `keys/` second) and idempotence
    * contract.
    */
  def appendKeys(spark: org.apache.spark.sql.SparkSession,
                 docs: DataFrame, keyCol: String, path: String): Unit =
    appendKeysImpl(spark, docs, col(keyCol), path)

  private def appendKeysImpl(spark: org.apache.spark.sql.SparkSession,
                             docs: DataFrame, keyExpr: Column,
                             path: String): Unit = {
    // persisted: three consumers (emptiness probe, Bloom build, keys
    // append) must not re-run the caller's upstream pipeline
    val newKeys = docs.where(keyExpr.isNotNull)
      .select(keyExpr.as("key")).distinct().persist()
    try {
      if (newKeys.isEmpty) return
      val params = spark.read.parquet(s"$path/params")
        .select(col("n"), col("fpp")).head()
      val delta = newKeys.stat.bloomFilter("key", params.getLong(0),
        params.getDouble(1))
      val merged = readBloom(spark, path).mergeInPlace(delta)
      writeBloom(spark, merged, path)
      newKeys.write.mode("append").parquet(s"$path/keys")
    } finally newKeys.unpersist()
  }

  /** Screen a new batch against a [[buildExactKeyIndex]] layout: rows
    * whose content hash is NOT in the standing corpus — the re-ingest /
    * re-crawl admission gate. Exactness comes in two stages:
    *
    *  1. the persisted Bloom (no false negatives) clears definitely-new
    *     rows in the scan itself — zero joins for the typical
    *     mostly-fresh dump;
    *  2. possible members (true dups + fpp noise) are verified exactly.
    *     With `broadcastBatch` (default — an ingest batch ≪ the corpus)
    *     the verify never shuffles the corpus: the batch's candidate
    *     keys BROADCAST into a semi-join that slims the key index to
    *     batch-bounded matches, and those matches broadcast back into
    *     the anti-join. Set false for a huge batch, where a two-sided
    *     shuffle on the fixed-width key is the correct plan.
    *
    * Output: the admitted subset of `newDocs`, schema unchanged.
    * Null-text rows are admitted (the index holds no null key).
    */
  def exactDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                             newDocs: DataFrame, textCol: String, path: String,
                             broadcastBatch: Boolean = true): DataFrame =
    dedupAgainstKeyIndexImpl(spark, newDocs, md5(col(textCol)),
      col(textCol).isNotNull, path, broadcastBatch)

  /** [[exactDedupAgainstIndex]] for a [[buildKeyIndex]] layout — screen
    * a batch on a PRECOMPUTED key column (the digest-keyed crawl
    * admission gate: runs BEFORE charset decode, so a re-fetched page
    * costs one Bloom probe, not a transcode). Null-key rows are
    * admitted, same as null text.
    */
  def dedupAgainstKeyIndex(spark: org.apache.spark.sql.SparkSession,
                           newDocs: DataFrame, keyCol: String, path: String,
                           broadcastBatch: Boolean = true): DataFrame =
    dedupAgainstKeyIndexImpl(spark, newDocs, col(keyCol),
      col(keyCol).isNotNull, path, broadcastBatch)

  private def dedupAgainstKeyIndexImpl(
      spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
      keyExpr: Column, keyPresent: Column, path: String,
      broadcastBatch: Boolean): DataFrame = {
    val bloom = readBloom(spark, path)
    // the index side joins under a reserved `_idx_key` name: a caller
    // whose docs already carry a `key` column must not make the join
    // condition ambiguous (same `_`-prefix convention as `_key`)
    val keys = spark.read.parquet(s"$path/keys")
      .select(col("key").as("_idx_key"))
    val keyed = newDocs.withColumn("_key", keyExpr)
    val might = keyPresent &&
      graft.functions.VectorFunctions.bloomMightContain(col("_key"), bloom)
    val maybe = keyed.where(might)
    val verified =
      if (broadcastBatch) {
        // corpus keys are only SCANNED (broadcast semi-join), never
        // shuffled; both joins' build sides are batch-bounded
        val present = keys.join(
          broadcast(maybe.select(col("_key").as("_idx_key")).distinct()),
          Seq("_idx_key"), "left_semi")
        maybe.join(broadcast(present), col("_key") === col("_idx_key"), "left_anti")
      } else maybe.join(keys, col("_key") === col("_idx_key"), "left_anti")
    keyed.where(!might).unionByName(verified).drop("_key")
  }

  /** Keep-list materialization — the step that turns near-dup CLUSTERS
    * into per-document keep/drop decisions: within each cluster the
    * highest-scoring member (ties to the lowest id) is kept, everything
    * else drops. Min-id representative selection ([[exact]]) is arbitrary;
    * real pipelines keep the BEST copy (longest, cleanest, highest
    * quality) of a duplicate group. One window shuffle on the cluster key;
    * the score join broadcasts when the cluster table is small or
    * shuffles on doc_id otherwise — both fixed-width keys.
    *
    * `scores` must carry deterministic, engine-portable values (e.g. the
    * ROUNDED quality of [[TextAnalysis.qualityScore]]) so ordering cannot
    * diverge across runs or engines.
    */
  def representatives(clusters: DataFrame, scores: DataFrame,
                      scoreCol: String): DataFrame =
    clusters.join(scores, "doc_id")
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
          .orderBy(col(scoreCol).desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster"),
        when(col("_rk") === 1, 1L).otherwise(0L).as("keep"))

  /** [[decontaminate]] with a Bloom-filter prefilter — the 100 TB shape.
    * The plain form shuffles EVERY corpus shingle into the overlap join;
    * here a Bloom filter of the benchmark's distinct shingles (the small,
    * bounded side — an eval suite, not the corpus) is built once,
    * shipped to every task as a codegen reference object, and the corpus
    * scan discards non-members BEFORE any exchange. Bloom filters have no
    * false negatives, so the exact verify join over the tiny surviving
    * slice (false positives only) restores the exact result: output is
    * row-identical to [[decontaminate]] — same oracle — while the
    * shuffled volume drops from |corpus shingles| to |true overlap| ×
    * (1 + fpp).
    *
    * The two driver actions (benchmark distinct-shingle count + filter
    * aggregation) run on the benchmark side only — bounded by
    * construction, like the IVF centroid fetch.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, w: Int = 3,
                         maxDf: Int = 1000, minHits: Int = 1,
                         fpp: Double = 0.01): DataFrame = {
    // materialized once (eager, bounded side): it feeds three consumers —
    // the size probe, the filter aggregation, and the verify join
    val benchSh = shingles(benchmark, idCol, textCol, w)
      .select(col("s")).distinct().localCheckpoint(true)
    val nBench = benchSh.count()
    if (nBench == 0)
      // BloomFilter.create requires a positive size; the exact path's
      // empty-join result is already the right (empty) answer
      return decontaminate(corpus, benchmark, idCol, textCol, w, maxDf, minHits)
    // putString-compatible with BloomMightContain's mightContainBinary
    // probe (putString hashes the UTF-8 bytes) — pinned by the
    // decontaminateBloom == decontaminate equivalence spec, which would
    // lose planted hits on any false negative
    val bloom = benchSh.stat.bloomFilter("s", nBench, fpp)
    shingles(corpus, idCol, textCol, w)
      .where(graft.functions.VectorFunctions.bloomMightContain(col("s"), bloom))
      .join(broadcast(benchSh), "s") // exact verify: kills false positives
      .withColumn("_df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .filter(col("_df") <= maxDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Duplicated-span pressure per document: the fraction of a doc's
    * winnowing fingerprints ([[graft.ops.TextAnalysis.winnow]], SWA '03)
    * that also occur in at least one OTHER document — the distributed
    * stand-in for exact substring dedup (Lee et al. '21: duplicated
    * 50-token spans): a doc made of passages copied from elsewhere in the
    * corpus scores near 1 and is dropped. Two exchanges total — the
    * fingerprint-frequency window and the per-doc aggregation — both on
    * fixed-width keys; fingerprints per doc ∝ chars/(t−k), so shuffle
    * volume is a fraction of corpus size.
    *
    * `keep` (1/0) applies `dupThreshold`; spans shared only WITHIN a doc
    * don't count (winnow emits distinct fps per doc, so cross-doc
    * frequency is exactly doc frequency).
    */
  def dupSpanFrac(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, t: Int = 16,
                  dupThreshold: Double = 0.5): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.VectorFunctions.winnow(col(textCol), k, t)).as("fp"))
      .withColumn("_df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_spans"),
        round(col("n_shared") / col("n_spans"), 4).as("dup_span_frac"),
        when(col("n_shared") / col("n_spans") < dupThreshold, 1L)
          .otherwise(0L).as("keep"))

  /** Span EXCISION — the dedup ACTION [[dupSpanFrac]] only measures:
    * rewrite each document with its cross-doc duplicated word spans
    * removed, keeping every span in exactly ONE document (Lee et al.
    * '21 "Deduplicating Training Data Makes Language Models Better" —
    * remove all but one occurrence of a duplicated span).
    *
    * Semantics, chosen deterministic so a SQL oracle can rebuild the
    * result bit-for-bit:
    *  - tokens are the single-space word split (the engine's q35/q58
    *    convention); output text re-joins kept words with single
    *    spaces, so whitespace is normalized — documented, like petl's
    *    all-string CSV semantics;
    *  - a span is `w` consecutive words; two docs share a span when
    *    their w-gram md5s collide;
    *  - the KEEPER of a shared span is the lowest doc_id containing
    *    it; every occurrence in every other doc is excised (a word
    *    survives only if NO duplicated w-gram covers it);
    *  - docs with < w words have no spans and pass through (normalized)
    *    — they can still be exact/near-dup screened by [[exact]]/
    *    [[minHashLsh]], which is the right tool at that length.
    *
    * Scale shape: w-gram volume ∝ corpus words (same as [[shingles]]);
    * ONE exchange on the md5 gram key feeds the distinct + (count, min)
    * aggregation; the stats join back to occurrences is linear (one
    * stats row per gram — never a doc×doc pair term, so a boilerplate
    * gram in 100k docs costs 100k rows, not 100k²); excised positions
    * explode bounded by w × duplicated occurrences; the per-doc
    * position set is bounded by document length (the same per-doc
    * bound as [[Packing.pack]]'s shard state). No windows, no
    * collect(), no cross joins.
    */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 8): DataFrame = {
    val docs = splitWords(df, idCol, textCol)
    val grams = wordGrams(docs, w)
    // grams held by ≥2 docs, with the keeper (min doc_id) attached
    val stats = grams.select(col("gh"), col("doc_id")).distinct()
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("_nd"), min(col("doc_id")).as("_keeper"))
      .filter(col("_nd") >= 2)
    // word positions covered by a duplicated gram in a non-keeper doc
    val exPos = grams.join(stats, "gh")
      .filter(col("doc_id") =!= col("_keeper"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("_ex"))
    rebuildWithoutPositions(docs, exPos)
  }

  /** INTRA-doc repeat collapsing — [[exciseDupSpans]]' within-document
    * twin and the ACTION behind the q51 repetition SIGNALS (Gopher-style
    * "duplicated n-gram fraction" flags a doc; this rewrites it): every
    * repeated `w`-gram occurrence AFTER the first is removed, with the
    * conservative coverage rule that a word survives if ANY first
    * occurrence (of any gram — unique grams included) covers it. So a
    * boilerplate line stuttered N times collapses to one copy
    * ("a a a a a" at w=2 → "a a"), while short echoes whose every word
    * is still covered by some gram's first occurrence stay intact.
    * (Like all span excision — q88, Lee et al. — removal can create new
    * seam adjacencies where a removed run's neighbors meet.)
    *
    * Deterministic (first = lowest start; no RNG), oracle-rebuildable,
    * same single-space normalization contract as [[exciseDupSpans]].
    * Scale shape: every join/aggregate key carries doc_id ((doc, gh) /
    * (doc, pos)) so key cardinality is per-document-bounded — there is
    * no corpus-global hot key at ANY size; per-doc position state
    * bounded by doc length.
    */
  def collapseRepeats(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 3): DataFrame = {
    val docs = splitWords(df, idCol, textCol)
    val grams = wordGrams(docs, w)
    val firsts = grams.groupBy(col("doc_id"), col("gh"))
      .agg(min(col("start")).as("_s1"))
    // positions covered by any gram's FIRST occurrence
    val firstPos = firsts.select(col("doc_id"),
      explode(sequence(col("_s1"), col("_s1") + (w - 1))).as("pos"))
    // positions covered by a repeat occurrence (start > first)
    val dupPos = grams.join(firsts, Seq("doc_id", "gh"))
      .filter(col("start") > col("_s1"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
    val exPos = dupPos.join(firstPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("_ex"))
    rebuildWithoutPositions(docs, exPos)
  }

  /** A boilerplate-removal unit — the line or the paragraph. Each step
    * of the removal family below (batch removal, rebuild, document
    * frequency, index build, count append, index probe) has one
    * implementation over this value; the two units differ only in it:
    *
    *  - `subdir`: the count layout's directory (`lines`, `paras`);
    *  - `key`, `unit`, `pos`: the md5 key, the unit text and its
    *    in-doc order column of `split`'s units frame;
    *  - `seam` rejoins the kept units; `counter` names the output's
    *    unit count (`n_lines`, `n_paras`);
    *  - `builder` names the index builder in the reserved-token message;
    *  - `split` (df, idCol, textCol) → (base, units): base is
    *    (doc_id, counter) per non-null doc, units is (doc_id, pos,
    *    unit, key);
    *  - `counted` selects the units that count toward document
    *    frequency (and so can be banned).
    */
  private[graft] final case class TextUnit(
      subdir: String, key: String, unit: String, pos: String,
      seam: String, counter: String, builder: String,
      split: (DataFrame, String, String) => (DataFrame, DataFrame),
      counted: Column)

  /** Lines: `\n`-separated verbatim strings; lines blank after trim are
    * structure, not boilerplate — never counted, never removed.
    */
  private[graft] val Lines = TextUnit("lines", "lh", "line", "pos", "\n",
    "n_lines", "buildLineIndex", splitLines, trim(col("line")) =!= "")

  /** Paragraphs: [[graft.ops.TextAnalysis.paragraphsCol]]'s units
    * (blank-line split, trimmed, empties dropped), every one counted —
    * `lit(true)`, which the optimizer prunes.
    */
  private[graft] val Paras = TextUnit("paras", "ph", "para", "para_idx",
    "\n\n", "n_paras", "buildParagraphIndex", splitParas, lit(true))

  /** Corpus-frequency LINE removal — the CCNet/RefinedWeb boilerplate
    * rule, the line-granular member of the excision family. Output
    * (doc_id, clean_text, n_lines, n_removed); see [[removeFrequent]].
    */
  def removeFrequentLines(df: DataFrame, idCol: String, textCol: String,
                          minDocFreq: Int = 2): DataFrame =
    removeFrequent(Lines, df, idCol, textCol, minDocFreq)

  /** [[removeFrequentLines]]' rule at the unit real web boilerplate
    * actually repeats at (cookie banners, footers, share blocks are
    * PARAGRAPHS; the line rule shreds them only when line reflow happens
    * to align); survivors rejoin with the canonical `\n\n` seam. Output
    * (doc_id, clean_text, n_paras, n_removed); see [[removeFrequent]].
    */
  def removeFrequentParagraphs(df: DataFrame, idCol: String, textCol: String,
                               minDocFreq: Int = 2): DataFrame =
    removeFrequent(Paras, df, idCol, textCol, minDocFreq)

  /** Batch boilerplate removal at unit `u`: a unit whose corpus
    * document-frequency reaches `minDocFreq` is navigation chrome /
    * cookie banner / template text, and EVERY occurrence is removed (no
    * keeper — unlike [[exciseDupSpans]], where the first doc keeps the
    * span, boilerplate carries no training signal in any copy); the
    * survivors rejoin with `u.seam` in original order. Docs with null
    * `textCol` are dropped (the [[exciseDupSpans]] convention); docs
    * whose every unit is banned survive with `clean_text = ''`.
    *
    * Scale shape: counting shuffles (doc_id, key)-distinct rows — the
    * key is md5 (the gram-index `gh` convention: fixed 32-char shuffle
    * key, never the unit text) and doc_id in the key means no
    * corpus-global hot key; the df count itself is partial-aggregated
    * (algebraic). The banned side of the final anti-join is DISTINCT
    * boilerplate units — by definition few strings however many
    * occurrences they have — so AQE broadcasts it and the probe side
    * never shuffles. Rebuild state is per-doc bounded (a doc's own
    * units); no window over the corpus, no driver collect.
    */
  private[graft] def removeFrequent(u: TextUnit, df: DataFrame, idCol: String,
      textCol: String, minDocFreq: Int): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val (base, units) = u.split(df, idCol, textCol)
    val banned = docFreq(u, units)
      .filter(col("df") >= minDocFreq).select(col(u.key))
    rebuild(u, base, units, banned)
  }

  /** (base, paras): base keeps the un-exploded doc with its non-empty
    * paragraph count, paras is segmentParagraphs' (doc_id, para_idx,
    * para) plus the md5 key `ph`.
    */
  private def splitParas(df: DataFrame, idCol: String,
                         textCol: String): (DataFrame, DataFrame) = {
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        size(graft.ops.TextAnalysis.paragraphsCol(col(textCol)))
          .cast("bigint").as("n_paras"))
    val paras = graft.ops.TextAnalysis
      .segmentParagraphs(df, idCol, textCol)
      .withColumn("ph", md5(col("para")))
    (base, paras)
  }

  /** (base, lines): base keeps the un-exploded doc with row-local
    * n_lines (the denominator never costs an explode branch), lines is
    * (doc_id, pos 1-based, line, lh md5).
    */
  private def splitLines(df: DataFrame, idCol: String,
                         textCol: String): (DataFrame, DataFrame) = {
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"),
        size(split(col(textCol), "\n")).cast("bigint").as("n_lines"))
    val lines = base
      .select(col("doc_id"),
        posexplode(split(col("_t"), "\n")).as(Seq("_p0", "line")))
      .select(col("doc_id"), (col("_p0") + 1).as("pos"), col("line"),
        md5(col("line")).as("lh"))
    (base.select(col("doc_id"), col("n_lines")), lines)
  }

  /** Anti-join `units` against `banned` (u.key) and rejoin each doc's
    * kept units with `u.seam` in position order — shared by the batch
    * and index forms. Output (doc_id, clean_text, u.counter, n_removed);
    * an all-banned doc survives as ''.
    */
  private def rebuild(u: TextUnit, base: DataFrame, units: DataFrame,
                      banned: DataFrame): DataFrame = {
    val agg = units.join(banned, Seq(u.key), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(u.seam,
        expr(s"transform(array_sort(collect_list(struct(${u.pos}, " +
          s"${u.unit}))), x -> x.${u.unit})")).as("clean_text"),
        count(lit(1)).as("_kept"))
    base.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col(u.counter),
        (col(u.counter) - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** (key, df) per counted unit — df counts DISTINCT docs (a unit
    * stuttered inside one doc is intra-doc repetition, not corpus
    * boilerplate). The batch ban and the persisted deltas both count
    * here, so the two forms can never desynchronize.
    */
  private def docFreq(u: TextUnit, units: DataFrame): DataFrame =
    units.where(u.counted).select(col(u.key), col("doc_id")).distinct()
      .groupBy(col(u.key)).agg(count(lit(1)).as("df"))

  private def tokenOk(u: TextUnit)(token: String): Unit =
    require(token.nonEmpty && token.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"${u.unit}-index append token must be [A-Za-z0-9_-]+: '$token'")

  /** Persist the standing corpus's LINE document-frequencies —
    * [[removeFrequentLines]]' standing-corpus form; layout
    * `lines/delta=<token>/` (lh, df) and `params/`, see
    * [[buildCountIndex]].
    */
  def buildLineIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, minDocFreq: Int = 2): Unit =
    buildCountIndex(Lines, docs, idCol, textCol, path, minDocFreq)

  /** Persist the standing corpus's PARAGRAPH document-frequencies —
    * [[removeFrequentParagraphs]]' standing-corpus form (q152's);
    * layout `paras/delta=<token>/` (ph, df) and `params/`, see
    * [[buildCountIndex]].
    */
  def buildParagraphIndex(docs: DataFrame, idCol: String, textCol: String,
                          path: String, minDocFreq: Int = 2): Unit =
    buildCountIndex(Paras, docs, idCol, textCol, path, minDocFreq)

  /** Persist the standing corpus's unit document-frequencies — the
    * INCREMENTAL end of the boilerplate family, completing the index
    * symmetry (exact keys ⇄ lexical bands ⇄ semantic cells ⇄ span
    * grams ⇄ unit COUNTS) and batch ⇄ index ⇄ stream symmetry for each
    * unit. Unlike the set-valued indexes, membership cannot decide
    * boilerplate — FREQUENCY does — so the artifact is a count table
    * and there is no Bloom screen (a unit's ban status needs the summed
    * df, not a maybe-bit). Layout:
    *
    *   `<u.subdir>/delta=<token>/` — (u.key: md5 hex, df: long) per
    *       appended slice. Each append OVERWRITES its own token's
    *       directory, so an at-least-once replay REPLACES its delta
    *       instead of double-counting — count idempotence by layout,
    *       the property the set indexes get from anti-join appends. The
    *       token is a Spark partition column: probes excluding their
    *       own token prune it at the scan.
    *   `params/` — (min_doc_freq): probes ban at the SAME threshold
    *       the layout was declared with.
    *
    * Probe-side aggregation (sum df per key over the deltas) is
    * index-sized — distinct units, not corpus units; periodic
    * [[IndexMaintenance.compact]] keeps per-delta small files in
    * check, and [[IndexMaintenance.consolidateLineDeltas]] /
    * [[IndexMaintenance.consolidateParagraphDeltas]] fold deltas BEHIND
    * the sink's committed checkpoint offset into `delta=base` (bounding
    * the one-directory-per-batch growth over a stream's lifetime).
    * Folding an UNCOMMITTED token would break the overwrite-idempotence
    * and the probe exclusion of its replay, which is why consolidation
    * is checkpoint-gated rather than a blind merge.
    */
  private def buildCountIndex(u: TextUnit, docs: DataFrame, idCol: String,
      textCol: String, path: String, minDocFreq: Int): Unit = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val spark = docs.sparkSession
    import spark.implicits._
    docFreq(u, u.split(docs, idCol, textCol)._2)
      .write.mode("overwrite").parquet(s"$path/${u.subdir}/delta=base")
    Seq(minDocFreq).toDF("min_doc_freq")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Admit a slice's line counts into a [[buildLineIndex]] layout under
    * `token` (use the streaming batchId); see [[appendCounts]].
    */
  def appendLineCounts(docs: DataFrame, idCol: String, textCol: String,
                       path: String, token: String): Unit =
    appendCounts(Lines, docs, idCol, textCol, path, token)

  /** Admit a slice's paragraph counts into a [[buildParagraphIndex]]
    * layout under `token` (use the streaming batchId); see
    * [[appendCounts]].
    */
  def appendParagraphCounts(docs: DataFrame, idCol: String, textCol: String,
                            path: String, token: String): Unit =
    appendCounts(Paras, docs, idCol, textCol, path, token)

  /** Admit a slice's unit counts under `token`: same-token re-appends
    * OVERWRITE — the replay-idempotence contract of the layout. `base`
    * is reserved for the builder.
    */
  private[graft] def appendCounts(u: TextUnit, docs: DataFrame, idCol: String,
      textCol: String, path: String, token: String): Unit = {
    tokenOk(u)(token)
    require(token != "base", s"token 'base' is reserved for ${u.builder}")
    docFreq(u, u.split(docs, idCol, textCol)._2)
      .write.mode("overwrite").parquet(s"$path/${u.subdir}/delta=$token")
  }

  /** [[removeFrequentLines]] against a [[buildLineIndex]] layout; see
    * [[removeAgainstIndex]].
    */
  def removeLinesAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                              df: DataFrame, idCol: String, textCol: String,
                              path: String,
                              excludeToken: Option[String] = None,
                              knownMinDocFreq: Option[Int] = None): DataFrame =
    removeAgainstIndex(Lines, spark, df, idCol, textCol, path, excludeToken,
      knownMinDocFreq)

  /** [[removeFrequentParagraphs]] against a [[buildParagraphIndex]]
    * layout; see [[removeAgainstIndex]].
    */
  def removeParagraphsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                   df: DataFrame, idCol: String,
                                   textCol: String, path: String,
                                   excludeToken: Option[String] = None,
                                   knownMinDocFreq: Option[Int] = None)
      : DataFrame =
    removeAgainstIndex(Paras, spark, df, idCol, textCol, path, excludeToken,
      knownMinDocFreq)

  /** Remove units whose STANDING-corpus document frequency reaches the
    * layout's `min_doc_freq` — [[removeFrequent]] against a
    * [[buildCountIndex]] layout. Standing-only like
    * [[exciseAgainstIndex]]: within-batch frequency is the batch op's
    * job; run it first if the batch can carry its own boilerplate.
    * `excludeToken` skips that delta when summing — a replaying batch
    * that already appended its counts probes as if it had not (the
    * probe that makes the append-then-crash window convergent).
    *
    * `knownMinDocFreq` passes a pre-read `params` threshold so a
    * long-running caller (the streaming sinks, which hoist the read at
    * sink start — the threshold is fixed at index build) doesn't re-read
    * the params parquet from the driver on every micro-batch; None
    * reads it here.
    *
    * Scale shape: the ban set (summed df ≥ threshold) is the
    * distinct-boilerplate population — small by definition, AQE
    * broadcasts the anti-join; the delta exclusion is partition
    * pruning on the token column, not a filter over rows.
    */
  private[graft] def removeAgainstIndex(u: TextUnit,
      spark: org.apache.spark.sql.SparkSession, df: DataFrame, idCol: String,
      textCol: String, path: String, excludeToken: Option[String],
      knownMinDocFreq: Option[Int]): DataFrame = {
    excludeToken.foreach(tokenOk(u))
    val minDocFreq = knownMinDocFreq.getOrElse(
      spark.read.parquet(s"$path/params")
        .select(col("min_doc_freq")).head().getInt(0))
    val deltas = spark.read.parquet(s"$path/${u.subdir}")
    val banned = excludeToken.fold(deltas)(t => deltas.where(col("delta") =!= t))
      .groupBy(col(u.key))
      .agg(sum(col("df")).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select(col(u.key))
    val (base, units) = u.split(df, idCol, textCol)
    rebuild(u, base, units, banned)
  }

  /** Persist the standing corpus's word-gram index — the INCREMENTAL
    * end of the span-excision family, symmetric with
    * [[buildExactKeyIndex]] (exact keys ⇄ lexical bands ⇄ semantic
    * cells ⇄ span grams): every admitted batch can have its
    * corpus-duplicated spans excised withOUT ever re-hashing the
    * corpus. Artifacts under `path`:
    *
    *   `grams/`  — (gh: md5 hex) distinct `w`-gram hashes, fixed-width
    *               — plus ONE full-text hash per doc shorter than w
    *               (its exact-identity screen; see
    *               [[exciseAgainstIndex]]);
    *   `bloom/`  — one Bloom filter over them (`fpp`), staged-write
    *               (see [[writeBloom]]);
    *   `params/` — (w, n, fpp): probes/appends must gram at the SAME
    *               width, and appended deltas must be Bloom-mergeable.
    */
  def buildGramIndex(docs: DataFrame, textCol: String, path: String,
                     w: Int = 8, fpp: Double = 0.01): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    gramSet(docs, textCol, w)
      .write.mode("overwrite").parquet(s"$path/grams")
    val grams = spark.read.parquet(s"$path/grams")
    val n = math.max(1L, grams.count())
    val bloom = grams.stat.bloomFilter("gh", n, fpp)
    writeBloom(spark, bloom, path)
    Seq((w, n, fpp)).toDF("w", "n", "fpp")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Admit a batch's grams into a [[buildGramIndex]] layout — the
    * [[appendExactKeys]] discipline: Bloom delta merged and staged
    * BEFORE the grams append, so a crash leaves at worst verify-
    * tolerated false positives, never a silent false negative.
    */
  def appendGrams(spark: org.apache.spark.sql.SparkSession,
                  docs: DataFrame, textCol: String, path: String): Unit = {
    val params = spark.read.parquet(s"$path/params")
      .select(col("w"), col("n"), col("fpp")).head()
    // exact anti-join against the standing grams: recurring boilerplate
    // spans arrive in EVERY batch, and re-appending them would grow
    // grams/ with the batch count instead of the distinct-gram count
    // (probe cost would scale with stream lifetime). Exact, so no
    // false-negative risk — and the Bloom can prefilter nothing here:
    // its false positives are precisely the rows that must verify.
    val newGrams = gramSet(docs, textCol, params.getInt(0))
      .join(spark.read.parquet(s"$path/grams")
        .select(col("gh")), Seq("gh"), "left_anti")
      .persist()
    try {
      if (newGrams.isEmpty) return
      val delta = newGrams.stat.bloomFilter("gh", params.getLong(1),
        params.getDouble(2))
      val merged = readBloom(spark, path).mergeInPlace(delta)
      writeBloom(spark, merged, path)
      newGrams.write.mode("append").parquet(s"$path/grams")
    } finally newGrams.unpersist()
  }

  /** Rewrite a new batch with every span the STANDING corpus already
    * contains removed — [[exciseDupSpans]] where the keeper is the
    * corpus behind a [[buildGramIndex]] layout (the re-crawl /
    * re-ingest admission rewrite; backs [[graft.streaming.Streams
    * .gramExciseSink]]). Two stages, the [[exactDedupAgainstIndex]]
    * shape: the Bloom clears definitely-new grams in the scan (zero
    * joins for fresh text), and possible members verify exactly —
    * with `broadcastBatch` (default) the gram index is only SCANNED,
    * never shuffled. Docs SHORTER than w screen by their full-text
    * hash (the index stores one whole-doc "gram" for them — see
    * [[buildGramIndex]]): an exact-identity screen, which is also what
    * lets the streaming gate's replay converge for every doc length.
    * Output: (doc_id, clean_text, n_words, n_excised), the
    * [[exciseDupSpans]] contract (null-text rows excluded).
    */
  def exciseAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                         newDocs: DataFrame, idCol: String, textCol: String,
                         path: String,
                         broadcastBatch: Boolean = true): DataFrame = {
    val w = spark.read.parquet(s"$path/params").select(col("w")).head().getInt(0)
    val bloom = readBloom(spark, path)
    val docs = splitWords(newDocs, idCol, textCol)
    // long docs: w-grams covering w positions; short docs: ONE
    // full-text hash covering every position
    val grams = wordGrams(docs, w).withColumn("_len", lit(w))
      .unionByName(docs
        .where(size(col("_words")) < w && size(col("_words")) > 0)
        .select(col("doc_id"), lit(1).as("start"),
          md5(concat_ws(" ", col("_words"))).as("gh"),
          size(col("_words")).as("_len")))
    val maybe = grams.where(
      graft.functions.VectorFunctions.bloomMightContain(col("gh"), bloom))
    val index = spark.read.parquet(s"$path/grams")
      .select(col("gh").as("_idx_gh"))
    val matched =
      if (broadcastBatch) {
        val present = index.join(
          broadcast(maybe.select(col("gh").as("_idx_gh")).distinct()),
          Seq("_idx_gh"), "left_semi")
        maybe.join(broadcast(present), col("gh") === col("_idx_gh"), "left_semi")
      } else maybe.join(index, col("gh") === col("_idx_gh"), "left_semi")
    val exPos = matched.select(col("doc_id"),
        explode(sequence(col("start"), col("start") + col("_len") - 1)).as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("_ex"))
    rebuildWithoutPositions(docs, exPos)
  }

  /** One md5 per w-word window — THE gram formula, shared by
    * [[wordGrams]] (probe/corpus sides) and [[gramSet]] (index build/
    * append) so the persisted index and its probes can never
    * desynchronize. One codegen'd digest pass per window
    * ([[org.apache.spark.sql.graft.WordGramHashes]]) — byte-identical to
    * the `transform(sequence(1, size(_words) - w + 1), i ->
    * md5(concat_ws(' ', slice(_words, i, w))))` composition it replaced
    * (pinned by ExpressionPropertySpec), whose per-window slice/concat
    * allocations dominated the excision queries' GC noise. Arrays
    * shorter than w yield an empty array, so the call sites' short-doc
    * guards keep their `when` only to supply the full-text-hash
    * alternative.
    */
  private def gramArray(w: Int) =
    graft.functions.VectorFunctions.wordGramHashes(col("_words"), w)

  /** The distinct gram-hash set of a corpus — `w`-grams of long docs
    * plus the full-text hash of docs shorter than w (their
    * exact-identity screen; a short doc's joined text has < w words,
    * so it can never collide with a true w-gram). Shared by
    * [[buildGramIndex]] and [[appendGrams]].
    */
  private def gramSet(docs: DataFrame, textCol: String, w: Int): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(expr(s"filter(split($textCol, ' '), x -> x <> '')").as("_words"))
      .where(size(col("_words")) > 0)
      .select(explode(
        when(size(col("_words")) >= w, gramArray(w))
          .otherwise(array(md5(concat_ws(" ", col("_words")))))).as("gh"))
      .distinct()

  /** (doc_id, _words): the single-space split with empties dropped —
    * the q35/q58 tokenization convention.
    */
  private def splitWords(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        expr(s"filter(split($textCol, ' '), x -> x <> '')").as("_words"))

  /** (doc, 1-based start, gram md5) — empty for docs shorter than w
    * ([[gramArray]] yields an empty array below w).
    */
  private def wordGrams(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(gramArray(w)).as(Seq("_p0", "gh")))
      .select(col("doc_id"), (col("_p0") + 1).as("start"), col("gh"))

  /** Re-join each doc's kept words: `exPos` = (doc_id, _ex: array<int>)
    * of 1-based excised positions; docs absent from it pass through
    * (normalized). Output (doc_id, clean_text, n_words, n_excised).
    *
    * Kept positions come from `array_except(sequence, _ex)` — a
    * hash-set difference, O(words + excised) per doc and
    * order-preserving — instead of the earlier
    * `filter(_words, NOT array_contains(_ex, i+1))`, whose per-word
    * membership scan made a heavily-excised document quadratic in its
    * own length. Same kept set, same order, same seam.
    */
  private def rebuildWithoutPositions(docs: DataFrame,
                                      exPos: DataFrame): DataFrame =
    docs.join(exPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // size = 0 guarded: sequence(1, 0) DESCENDS to [1, 0] and the
        // element_at would throw under ANSI — an empty doc is ''
        expr("CASE WHEN size(_words) = 0 THEN '' ELSE concat_ws(' ', " +
          "transform(array_except(sequence(1, size(_words)), " +
          "coalesce(_ex, cast(array() as array<int>))), " +
          "p -> element_at(_words, p))) END").as("clean_text"),
        size(col("_words")).cast("bigint").as("n_words"),
        coalesce(size(col("_ex")), lit(0)).cast("bigint").as("n_excised"))

  /** Exact all-pairs n-gram Jaccard ≥ threshold via the shingle inverted
    * index (no LSH screen — the verifier itself, exposed as an operator).
    * ONE self-join: the per-(d1,d2) match count from the inverted index IS
    * the intersection size, so no distinct-candidates stage and no re-join
    * of the index (3 joins → 1).
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, threshold: Double = 0.3, maxDf: Int = 1000): DataFrame = {
    shinglePairStats(df, idCol, textCol, w, maxDf)
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / (col("n1") + col("n2") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** Shared candidate-mining stage of [[ngramJaccard]] and
    * [[containment]]: (d1, d2, i, n1, n2) — distinct-shingle overlap and
    * set sizes per co-occurring pair.
    *
    * Skew guard: a shingle appearing in df docs emits O(df²) join rows,
    * so one boilerplate phrase shared by 100k docs would dominate the
    * job. Shingles with document frequency > maxDf are dropped from the
    * inverted index (suspect-shingle filtering — they carry no near-dup
    * signal); they still count toward set sizes, so the derived scores
    * are lower bounds that are exact whenever no shingle exceeds the cap.
    * The df count rides the repartition(s) the join needs anyway, as a
    * window — no extra shuffle.
    *
    * The per-doc set size `n` is CARRIED through the inverted index
    * (8 bytes per shuffle row) and recovered in the pair aggregation via
    * first(): the alternative — re-joining a (doc_id, n) table onto d1
    * and then d2 — costs two extra shuffles of the full pair set.
    */
  private def shinglePairStats(df: DataFrame, idCol: String, textCol: String,
                               w: Int, maxDf: Int): DataFrame =
    shinglePairStatsFromSets(shingleSets(df, idCol, textCol, w), maxDf)

  /** [[shinglePairStats]] over an EXISTING (doc_id, set, n) table —
    * the form [[ngramJaccardFromSets]]/[[dedupRecallFromIndex]] use so
    * a shared or persisted shingle pass is never recomputed.
    */
  private def shinglePairStatsFromSets(sets: DataFrame,
                                       maxDf: Int): DataFrame = {
    val sh = sets.select(col("doc_id"), col("n"), explode(col("set")).as("s"))
      .repartition(col("s")) // one reused exchange feeds both self-join sides
      .withColumn("_df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .filter(col("_df") <= maxDf)
      .select(col("doc_id"), col("n"), col("s"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"),
        first(col("a.n")).as("n1"), first(col("b.n")).as("n2"))
  }

  /** [[ngramJaccard]] over an existing [[shingleSets]] table — lets an
    * audit (q139/q140) share ONE tokenize pass between the truth side
    * and the minhash signature chain instead of paying it twice.
    */
  def ngramJaccardFromSets(sets: DataFrame, threshold: Double = 0.3,
                           maxDf: Int = 1000): DataFrame =
    shinglePairStatsFromSets(sets, maxDf)
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / (col("n1") + col("n2") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 3).as("jaccard"))

  /** Asymmetric shingle containment — the sub-document duplication
    * screen. For a candidate pair (A, B) with shingle sets of sizes n1,
    * n2 and intersection i:
    *
    *   c12 = i / n1   (how much of A is inside B)
    *   c21 = i / n2   (how much of B is inside A)
    *
    * kept when max(c12, c21) ≥ `threshold`. Jaccard ([[ngramJaccard]])
    * misses the classic case — a short document wholly quoted inside a
    * long one scores i/(n1+n2−i) ≈ n1/n2 ≈ 0, while its containment is
    * 1.0. This is the Lee et al. "Deduplicating Training Data Makes
    * Language Models Better" substring-dup signal at shingle
    * granularity.
    *
    * Same candidate mining and skew guard as [[ngramJaccard]] (the
    * shared [[shinglePairStats]] stage: one reused exchange feeds both
    * self-join sides, document-frequency cap `maxDf` drops boilerplate
    * shingles from the inverted index), so the 100 TB shape is
    * identical: fixed-width md5 shingle keys, pair rows ∝ true shingle
    * co-occurrence. Divisions are exact-input correctly-rounded;
    * rounded at 3 decimals like the Jaccard twin.
    */
  def containment(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, threshold: Double = 0.5, maxDf: Int = 1000): DataFrame =
    containmentFromSets(shingleSets(df, idCol, textCol, w), threshold, maxDf)

  /** [[containment]] over an existing [[shingleSets]] table — the
    * shared-pass form ([[ngramJaccardFromSets]]'s convention).
    */
  def containmentFromSets(sets: DataFrame, threshold: Double = 0.5,
                          maxDf: Int = 1000): DataFrame =
    shinglePairStatsFromSets(sets, maxDf)
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / col("n1")).as("_c12"),
        (col("i").cast("double") / col("n2")).as("_c21"))
      .filter(greatest(col("_c12"), col("_c21")) >= threshold)
      .select(col("d1"), col("d2"),
        round(col("_c12"), 3).as("c12"), round(col("_c21"), 3).as("c21"))
}
