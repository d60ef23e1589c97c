package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting for training pipelines.
  *
  * Everything keys off `md5(id)` compared against hex-string thresholds:
  * no RNG state, no seed plumbing, stable across runs, partitionings and
  * engines (the DuckDB oracle computes the identical predicate), and a
  * document keeps its split assignment forever — the property that makes
  * held-out sets trustworthy across pipeline re-runs. Each operator is a
  * pure filter/projection: predicate-pushdown-eligible, zero shuffle.
  */
object Sampling {

  /** 32-char hex threshold below which a uniform md5 falls with
    * probability `frac` (first 8 nibbles carry the fraction; md5 is
    * uniform enough for split purposes at any corpus size).
    */
  def hexThreshold(frac: Double): String = {
    require(frac >= 0 && frac <= 1, s"fraction out of range: $frac")
    if (frac >= 1) "g" // compares above any hex digit
    else {
      // frac within ~2^-33 of 1 rounds up to exactly 2^32 in double
      // arithmetic, which would format as 9 nibbles and lexicographically
      // keep only ~1/16 of rows — clamp to the largest 8-nibble value
      val t = math.min((frac * 4294967296L).toLong, 0xffffffffL)
      f"$t%08x" + "0" * 24
    }
  }

  private def key(idCol: Column): Column = md5(idCol.cast("string"))

  /** Deterministic `frac` sample: keep rows whose md5(id) falls under the
    * threshold. Re-running, repartitioning, or porting engines yields the
    * SAME sample.
    */
  def sample(df: DataFrame, idCol: String, frac: Double): DataFrame =
    df.filter(key(col(idCol)) < hexThreshold(frac))

  /** Per-stratum deterministic sampling — the domain-mixture primitive: a
    * training recipe says "keep 100% of books, 25% of web, 5% of logs",
    * and every row's fate is a pure function of (stratum, id). Compiles to
    * one CASE over literal hex thresholds: a zero-shuffle,
    * pushdown-eligible filter whatever the corpus size, and re-runs /
    * engine ports keep the identical sample (the DuckDB oracle evaluates
    * the same predicate).
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fracs: Map[String, Double],
                       defaultFrac: Double = 0.0): DataFrame = {
    val thr = fracs.foldLeft(lit(hexThreshold(defaultFrac))) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(hexThreshold(f))).otherwise(acc)
    }
    df.filter(key(col(idCol)) < thr)
  }

  /** EXACTLY `n` rows per stratum (or all of a smaller stratum),
    * deterministically: each stratum keeps the rows whose md5(id) keys
    * are its n smallest — a uniform, reproducible shuffle order. The
    * fixed-size companion to [[stratifiedSample]]'s fixed-rate form
    * (eval subsets, per-domain caps).
    *
    * Ranked with the bounded [[graft.functions.MinNAgg]] aggregation,
    * NOT a window: a window would shuffle and sort the ENTIRE corpus
    * per stratum to discard all but n rows, where the aggregator's
    * map-side combine ships at most n keys per (stratum × partition).
    * The picked key set is n × strata rows — broadcast-sized by
    * construction — so the semi-join back adds no corpus shuffle
    * either. Ranking the md5-hex key (unique per unique id) keeps the
    * operator generic over the id type.
    */
  def exactSizeSample(df: DataFrame, idCol: String, stratumCol: String,
                      n: Int): DataFrame = {
    require(n >= 0, s"sample size must be non-negative: $n")
    if (n == 0) return df.limit(0)
    val picked = df
      .select(col(stratumCol).as("_s"), key(col(idCol)).as("_k"))
      .groupBy(col("_s"))
      .agg(graft.functions.TopKAgg.minN(n)(col("_k")).as("_ks"))
      .select(col("_s"), explode(col("_ks")).as("_k"))
    df.join(broadcast(picked),
      col(stratumCol) === col("_s") && key(col(idCol)) === col("_k"),
      "left_semi")
  }

  /** Temperature-flattened mixture weights from observed stratum sizes:
    * keep fraction (minCount / count)^(1-temperature) per stratum —
    * temperature 1 keeps everything (natural mixture), temperature 0
    * fully balances down to the smallest stratum, values between
    * interpolate on the log scale (the standard multilingual/domain
    * re-balancing rule). The per-stratum count collect is bounded by the
    * number of strata (domains/languages — tens, not rows), same bounded-
    * driver-action contract as the IVF centroid fetch. Feed the result to
    * [[stratifiedSample]].
    */
  def temperatureFracs(df: DataFrame, stratumCol: String,
                       temperature: Double): Map[String, Double] = {
    require(temperature >= 0 && temperature <= 1,
      s"temperature out of range: $temperature")
    val counts = df.groupBy(col(stratumCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) Map.empty
    else {
      val minC = counts.values.min.toDouble
      counts.map { case (s, c) =>
        s -> math.pow(minC / c, 1.0 - temperature)
      }
    }
  }

  /** Keep fractions that hit a per-stratum TOKEN budget in expectation —
    * the "sample each domain down to its token allocation" step of a
    * training-mix recipe ("x billion books tokens, y billion web
    * tokens"). fraction = min(1, budget / observed token total): a
    * stratum under its budget is kept whole, never upsampled. The
    * per-stratum total collect is bounded by the number of strata
    * (domains — tens, not rows; same bounded-driver-action contract as
    * [[temperatureFracs]]). Strata absent from `budgets` (or with no
    * tokens) get no fraction — feed the result to [[stratifiedSample]],
    * whose defaultFrac 0 drops them: the "not in the recipe" semantics.
    * The md5-rate sample then hits each budget in expectation — the
    * deterministic, engine-portable analogue of sampling without
    * replacement at corpus scale (the DuckDB oracle recomputes the same
    * totals, fractions and hex thresholds in SQL).
    */
  def tokenBudgetFracs(df: DataFrame, stratumCol: String, tokenCol: String,
                       budgets: Map[String, Long],
                       allowReplacement: Boolean = false): Map[String, Double] = {
    require(budgets.values.forall(_ >= 0),
      "token budgets must be non-negative")
    // an all-null token stratum has a NULL sum — drop it like an absent
    // stratum ("no fraction for unavailable strata") instead of NPEing
    // on the driver-side getLong
    val totals = df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol)).as("_t"))
      .collect().flatMap(r =>
        if (r.isNullAt(1)) None else Some(r.getString(0) -> r.getLong(1)))
      .toMap
    budgets.flatMap { case (s, b) =>
      totals.get(s).filter(_ > 0).map { t =>
        val f = b.toDouble / t
        s -> (if (allowReplacement) f else math.min(1.0, f))
      }
    }
  }

  /** Normalized mixture weights — the recipe form a training mix is
    * actually WRITTEN in ("60% web, 30% code, 10% books") turned into
    * exact per-stratum shares. Summation is a left fold in SORTED key
    * order so the normalizer is one fixed double regardless of Map
    * iteration order — the oracle inlines these exact values.
    */
  def mixtureWeights(weights: Map[String, Double]): Map[String, Double] = {
    require(weights.nonEmpty, "empty mixture")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    val sw = weights.toSeq.sortBy(_._1).map(_._2).sum
    require(sw > 0, "mixture weights sum to zero")
    weights.map { case (s, w) => s -> w / sw }
  }

  /** Per-stratum token allocations from a (weights, total budget)
    * recipe: floor(total × normalized weight) — the budgets layer
    * [[tokenBudgetFracs]] takes as input, derived instead of
    * hand-computed. Floor (not round) so allocations never overshoot
    * the stated budget.
    */
  def mixtureTargets(weights: Map[String, Double],
                     totalTokens: Long): Map[String, Long] = {
    require(totalTokens >= 0, s"negative budget: $totalTokens")
    mixtureWeights(weights).map { case (s, w) =>
      s -> math.floor(totalTokens.toDouble * w).toLong }
  }

  /** The mixture PLAN — the audit table a training-mix recipe is
    * reviewed from before any row moves: per recipe stratum, its
    * normalized weight, the tokens available in the corpus, the target
    * allocation floor(total × weight), the sampling fraction that
    * realizes it, and the epochs ratio (target/available — how many
    * passes over the stratum the recipe implies; > 1 means the recipe
    * NEEDS repetition). `allowReplacement = false` caps frac at 1 (the
    * [[tokenBudgetFracs]] no-upsample contract); true leaves it at the
    * epochs value for [[upsample]]. Strata in the recipe but absent
    * from the corpus surface with 0 available and null frac/epochs —
    * the "your recipe names a domain you don't have" red flag, which a
    * silent Map-based API would swallow.
    *
    * Shape at 100 TB: one map-side-combined aggregate over (stratum,
    * token) columns — totals are |strata| rows — joined to the
    * |strata|-row literal recipe; the corpus is scanned once and never
    * shuffled (partial aggregation collapses each partition to its
    * strata). Deterministic → DuckDB hash-checked (q133: weights and
    * targets inlined from the same [[mixtureWeights]]/[[mixtureTargets]]
    * arithmetic, totals recomputed in SQL).
    */
  def mixturePlan(df: DataFrame, stratumCol: String, tokenCol: String,
                  weights: Map[String, Double], totalTokens: Long,
                  allowReplacement: Boolean = false): DataFrame = {
    val wn = mixtureWeights(weights)
    val targets = mixtureTargets(weights, totalTokens)
    val spark = df.sparkSession
    import spark.implicits._
    val recipe = wn.toSeq.sortBy(_._1)
      .map { case (s, w) => (s, w, targets(s)) }
      .toDF(stratumCol, "_w", "target_tokens")
    // the totals side is |strata| rows by construction — pin the
    // broadcast so the recipe join never plans a sort-merge exchange
    // when auto-broadcast is off (the 100 TB conf)
    val totals = broadcast(df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol)).cast("long").as("_a")))
    val avail = coalesce(col("_a"), lit(0L))
    val ratio = col("target_tokens").cast("double") / col("_a").cast("double")
    recipe.join(totals, Seq(stratumCol), "left")
      .select(col(stratumCol),
        round(col("_w"), 6).as("weight"),
        avail.as("available_tokens"),
        col("target_tokens"),
        when(avail > 0,
          round(if (allowReplacement) ratio else least(lit(1.0), ratio), 6))
          .as("frac"),
        when(avail > 0, round(ratio, 6)).as("epochs"))
  }

  /** Keep fractions realizing a (weights, total budget) recipe — the
    * [[mixturePlan]] frac column as the Map the samplers consume:
    * frac = target / available per stratum (capped at 1 unless
    * `allowReplacement` — feed that form to [[upsample]] for the
    * epochs > 1 strata). The per-stratum total collect is bounded by
    * |strata| (domains — tens, not rows; the [[temperatureFracs]]
    * contract). Strata absent from the corpus get no fraction; corpus
    * strata outside the recipe get none either, and the downstream
    * samplers' default-0 semantics drop them.
    */
  def mixtureFracs(df: DataFrame, stratumCol: String, tokenCol: String,
                   weights: Map[String, Double], totalTokens: Long,
                   allowReplacement: Boolean = false): Map[String, Double] = {
    val targets = mixtureTargets(weights, totalTokens)
    // null sums (all-null token strata) drop like absent strata — the
    // tokenBudgetFracs convention, matching mixturePlan's coalesce
    val totals = df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol)).cast("long").as("_t"))
      .collect().flatMap(r =>
        if (r.isNullAt(1)) None else Some(r.getString(0) -> r.getLong(1)))
      .toMap
    targets.flatMap { case (s, tgt) =>
      totals.get(s).filter(_ > 0).map { a =>
        val f = tgt.toDouble / a.toDouble
        s -> (if (allowReplacement) f else math.min(1.0, f))
      }
    }
  }

  /** Mixture sampling WITH replacement — the epochs case
    * [[tokenBudgetFracs]]' cap deliberately refuses: when a stratum's
    * allocation EXCEEDS its size ("3.4 epochs of books"), every row
    * keeps `floor(frac)` whole copies and the fractional remainder is
    * the same md5-threshold coin as [[stratifiedSample]]:
    *
    *   copies(id) = floor(frac) + (md5(id) < thr(frac − floor(frac)) ? 1 : 0)
    *
    * Output duplicates each kept row with a `copy` index (0-based), so
    * downstream sequence packing / shuffling sees distinguishable
    * epochs. Deterministic and engine-portable like every sampler here;
    * strata absent from `fracs` drop (not-in-the-recipe semantics).
    * Still a projection + filter — the explode fans rows out in place
    * (no shuffle), and row count grows by exactly the mixture weight,
    * which is the point.
    */
  def upsample(df: DataFrame, idCol: String, stratumCol: String,
               fracs: Map[String, Double]): DataFrame = {
    require(fracs.values.forall(_ >= 0), "fractions must be non-negative")
    val whole = fracs.foldLeft(lit(0L)) { case (acc, (s, f)) =>
      when(col(stratumCol) === s, lit(math.floor(f).toLong)).otherwise(acc)
    }
    val remThr = fracs.foldLeft(lit(hexThreshold(0.0))) { case (acc, (s, f)) =>
      when(col(stratumCol) === s, lit(hexThreshold(f - math.floor(f))))
        .otherwise(acc)
    }
    df.withColumn("_n",
        whole + when(key(col(idCol)) < remThr, 1L).otherwise(0L))
      .where(col("_n") > 0)
      .withColumn("copy", explode(expr("sequence(0L, _n - 1)")))
      .drop("_n")
  }

  /** Score-band curriculum sampling — quality-WEIGHTED retention: rows
    * land in `nBands` fixed score bands (band = ⌊score·nBands⌋+1, capped;
    * scores in [0,1]) and band b keeps fraction b/nBands via the same
    * md5 coin as [[sample]] — the top band keeps everything, the bottom
    * keeps 1/nBands. The "don't throw away all low-quality data, but
    * up-weight the good tail" recipe, as a pure function of (score, id):
    * re-runs, engine ports, and corpus growth never move a row's fate.
    *
    * FIXED bands rather than per-run quantiles (NTILE) deliberately: a
    * global NTILE needs a total-order window (single-partition sort — a
    * scale cliff), and quantile cut points move whenever the corpus
    * grows, silently re-shuffling every row's band. Fixed bands are a
    * zero-shuffle, pushdown-eligible projection + filter at any size.
    * Output: input columns + `band`, filtered to kept rows.
    */
  def scoreCurriculum(df: DataFrame, idCol: String, scoreCol: String,
                      nBands: Int = 10): DataFrame = {
    require(nBands >= 1, s"nBands must be positive: $nBands")
    // out-of-range scores clamp into the edge bands (a negative score is
    // bottom-band, >1 is top-band) and null scores are dropped EXPLICITLY
    // — without the guard a null band would miss every CASE arm and the
    // row would vanish under the 0.0 threshold, data loss disguised as
    // sampling
    val band = greatest(
      least(floor(col(scoreCol) * nBands).cast("int") + 1, lit(nBands)),
      lit(1))
    val thr = (1 to nBands).foldLeft(lit(hexThreshold(0.0))) { (acc, bd) =>
      when(band === bd, lit(hexThreshold(bd.toDouble / nBands))).otherwise(acc)
    }
    df.where(col(scoreCol).isNotNull)
      .withColumn("band", band.cast("long"))
      .filter(key(col(idCol)) < thr)
  }

  /** Train/val/test assignment from cumulative fractions, e.g.
    * (0.8, 0.9) → 80% train, 10% val, 10% test. A row's label is a pure
    * function of its id — stable under corpus growth (new docs never move
    * old docs across splits).
    */
  def splitLabel(df: DataFrame, idCol: String,
                 trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    require(trainFrac + valFrac <= 1, "train + val fractions exceed 1")
    val k = key(col(idCol))
    df.withColumn("split",
      when(k < hexThreshold(trainFrac), "train")
        .when(k < hexThreshold(trainFrac + valFrac), "val")
        .otherwise("test"))
  }

  /** Leakage-safe split — [[splitLabel]] keyed on a GROUP instead of the
    * row id, so every member of a group lands on the SAME side. The
    * group is whatever "these rows must not straddle train/test" means
    * for the corpus: the near-dup cluster id from
    * [[graft.ops.Dedup]]'s connected components (near-duplicates of a
    * training doc leaking into eval inflate every score), the source
    * domain, the conversation/session id. Splitting i.i.d. by row id is
    * WRONG whenever such groups exist — this is the fix. The coin is
    * md5(group || "|gsplit"), salted so a group's side is independent
    * of [[sample]]/[[splitLabel]]'s md5(id) coins and of
    * [[trainingOrder]]'s "|shuffle" key. Split SIZES land near the
    * fractions only in group count; row counts follow the group-size
    * distribution (one giant cluster drags its whole mass to one side —
    * the property that makes the split sound is the one that skews it).
    * A pure projection: zero shuffle, no group table materialized, new
    * members of an old group forever join its side.
    */
  def splitByGroup(df: DataFrame, groupCol: String,
                   trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    require(trainFrac + valFrac <= 1, "train + val fractions exceed 1")
    val k = md5(concat(col(groupCol).cast("string"), lit("|gsplit")))
    df.withColumn("split",
      when(k < hexThreshold(trainFrac), "train")
        .when(k < hexThreshold(trainFrac + valFrac), "val")
        .otherwise("test"))
  }

  /** LEAKAGE-FREE split: [[splitByGroup]] with the contamination check
    * built in — after the group-keyed coin assigns sides, any TRAIN
    * document sharing ≥ `minHits` distinct w-gram shingles with the
    * held-out side (val/test) is relabeled `dropped`. Group splitting
    * alone only prevents leaks the group key already knows about; the
    * n-gram screen catches the rest (same page syndicated under two
    * domains, quotes, mirrored boilerplate). Eval rows are NEVER
    * dropped — the held-out set stays exactly what the coin chose, so
    * two runs disagree only in train membership. No row disappears:
    * the relabel keeps the operator total, and the rule-kill count is
    * an audit output, not a silent cap.
    *
    * Scale shape: the screen is [[Dedup.decontaminate]] — one banded
    * shingle equi-join with the `maxDf` hot-shingle cap (an
    * every-page-footer shingle would otherwise join train×eval
    * quadratically), never all-pairs. The relabel is one left join on
    * the id; the leak set is train∩eval overlap, bounded in practice,
    * but it rides a shuffled join rather than a broadcast so the
    * worst case (a mirrored corpus where most of train leaks) still
    * completes.
    */
  def leakFreeSplit(df: DataFrame, idCol: String, textCol: String,
                    groupCol: String,
                    trainFrac: Double = 0.8, valFrac: Double = 0.1,
                    w: Int = 4, maxDf: Int = 1000,
                    minHits: Int = 2): DataFrame = {
    val s = splitByGroup(df, groupCol, trainFrac, valFrac)
    val leaks = Dedup.decontaminate(
        s.where(col("split") === "train").select(col(idCol), col(textCol)),
        s.where(col("split") =!= "train").select(col(idCol), col(textCol)),
        idCol, textCol, w, maxDf, minHits)
      .select(col("doc_id").as(idCol), lit(1L).as("_leak"))
    s.join(leaks, Seq(idCol), "left")
      .withColumn("split",
        when(col("split") === "train" && col("_leak").isNotNull, "dropped")
          .otherwise(col("split")))
      .drop("_leak")
  }

  /** Per-key frequency cap — "at most `n` documents per domain", the
    * curation throttle that stops one crawler-friendly source from
    * dominating a mixture: keep the `n` BEST rows per key by
    * (`scoreCol` desc, id asc), drop the rest. Null-score rows are
    * unrankable and always dropped.
    *
    * Scale shape: the rank is the bounded map-side-combined
    * [[graft.functions.TopKAgg]] over (id, score) — each task ships at
    * most `n` entries per key it saw, so a skewed key (one domain with
    * a billion rows) costs partials of size `n`, never a
    * single-partition sort the way the textbook `ROW_NUMBER() OVER
    * (PARTITION BY key)` window does. Survivor ids (≤ n × |keys|) then
    * semi-join back to fetch the full rows; `broadcastSurvivors`
    * (default true — caps are small by construction) pins that as a
    * broadcast so the corpus never shuffles end to end. Set it false
    * when n × |keys| is itself huge, where a shuffled semi-join is the
    * correct plan.
    */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String,
                scoreCol: String, n: Int,
                broadcastSurvivors: Boolean = true): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"capPerKey needs an integral id column (the bounded top-n rank " +
        s"carries bigint ids); '$idCol' is $dt")
    val survivors = df
      .where(col(scoreCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(graft.functions.TopKAgg.topK(n)(
        col(idCol).cast("long"), col(scoreCol).cast("double")).as("_top"))
      .select(explode(col("_top._1")).as("_kept"))
    val keep = if (broadcastSurvivors) broadcast(survivors) else survivors
    df.join(keep, col(idCol).cast("long") === col("_kept"), "left_semi")
  }

  /** Initialize the persisted state for [[graft.streaming.Streams
    * .quotaGateSink]] — [[capPerKey]]'s streaming counterpart. A stream
    * cannot rank by quality against rows it has not seen, so the
    * streaming cap is a lifetime QUOTA: at most `n` ids ever admitted
    * per key, the within-batch pick by the md5 coin. The state is the
    * admitted (key, id) set itself — BOUNDED at n per key — not a
    * counter, so replaying a batch re-derives the identical admissions
    * (duplicate pairs from a replayed delta are harmless: membership is
    * a join, budgets read through countDistinct; a count would double).
    * `admitted/` starts empty and grows one bounded delta per admitting
    * batch — fold the small files offline with
    * [[graft.ops.IndexMaintenance.compact]] (flat mode, stream
    * stopped). `meta` freezes the layout and `n` (changing the quota is
    * a rebuild with the sink stopped, the frozen-geometry convention).
    */
  def buildQuotaState(spark: org.apache.spark.sql.SparkSession,
                      path: String, n: Int): Unit = {
    require(n >= 1, s"n must be positive: $n")
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("key", "id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/admitted")
    graft.ops.Similarity.writeIndexMeta(spark, path,
      Seq("layout" -> "quota_gate", "n" -> n.toString))
  }

  /** EXACT-budget sampling in the TOKEN currency — the greedy
    * md5-ordered prefix rule: per stratum, rows rank by the md5(id)
    * coin (ties to id — the [[sample]] convention) and admit while the
    * RUNNING token total stays within the stratum's budget; the first
    * row that would overflow stops the stratum (no partial documents).
    * The deterministic twin of [[tokenBudgetFracs]]+[[stratifiedSample]]
    * that hits the budget EXACTLY (within one document) instead of in
    * expectation — and the batch semantics [[graft.streaming.Streams
    * .tokenBudgetGateSink]] replays per micro-batch, so the two sides
    * spec-check against each other. Strata absent from `budgets` drop
    * (not-in-the-recipe semantics); null token counts read as 0.
    *
    * Shape at 100 TB: the running-sum window runs over NARROW
    * (id, stratum, tokens) rows ONLY — the [[capPerKey]] shape: rank
    * on a projected slice, then one id-keyed semi-join fetches the
    * full admitted rows, so document text never rides the per-stratum
    * sort; budgets fold as plan literals. Deterministic → DuckDB
    * hash-checked (q141).
    */
  def tokenBudgetPrefix(df: DataFrame, idCol: String, stratumCol: String,
                        tokenCol: String,
                        budgets: Map[String, Long]): DataFrame = {
    require(budgets.values.forall(_ >= 0),
      "token budgets must be non-negative")
    val bcol = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("long")) { case (acc, (s, b)) =>
        when(col(stratumCol) === s, lit(b)).otherwise(acc)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val admitted = df
      .select(col(idCol), col(stratumCol),
        coalesce(col(tokenCol).cast("long"), lit(0L)).as("_tok"))
      .withColumn("_budget", bcol)
      .where(col("_budget").isNotNull)
      .withColumn("_cum", sum(col("_tok")).over(w))
      .where(col("_cum") <= col("_budget"))
      .select(col(idCol))
    df.join(admitted, Seq(idCol), "left_semi")
  }

  /** Initialize the persisted state for [[graft.streaming.Streams
    * .tokenBudgetGateSink]] — the admission ladder's rung in the TOKEN
    * currency (the quota gate counts DOCS): `budgets/` freezes the
    * per-stratum token budgets (pass `mixtureTargets(weights, total)`
    * to freeze a weights-form recipe), `committed/` starts empty and
    * grows one bounded (key, batch_id, tokens) delta per admitting
    * batch. Totals are recovered by DISTINCT-then-sum over the deltas —
    * a replayed batch's re-appended delta is byte-identical (same
    * pre-batch state, same md5 prefix), so duplicates collapse instead
    * of inflating the spend, the quota-gate set discipline applied to a
    * counter. Changing the recipe is a rebuild with the sink stopped
    * (frozen-geometry convention); bound the O(batches) ledger growth
    * with [[graft.ops.IndexMaintenance.consolidateTokenBudgetState]]
    * (stream stopped) — it folds deltas strictly behind the checkpoint
    * offset into one row per stratum, keeping any in-flight batch's
    * delta byte-identical so its replay still collapses.
    */
  def buildTokenBudgetState(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            budgets: Map[String, Long]): Unit = {
    require(budgets.nonEmpty, "empty token-budget recipe")
    require(budgets.values.forall(_ >= 0),
      "token budgets must be non-negative")
    import spark.implicits._
    budgets.toSeq.sortBy(_._1).toDF("key", "budget")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/budgets")
    Seq.empty[(String, Long, Long)].toDF("key", "batch_id", "tokens")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/committed")
    graft.ops.Similarity.writeIndexMeta(spark, path,
      Seq("layout" -> "token_budget_gate"))
  }

  /** Deterministic TRAINING-ORDER shuffle — the step after [[Packing
    * .pack]] every recipe needs: a reproducible pseudo-random global
    * order, as (shard, pos). The shuffle key is md5(id || "|shuffle")
    * (salted so the order is independent of every sampler's md5(id)
    * coin — the same id must not be "early" in both); the shard is the
    * count of equi-spaced [[hexThreshold]] bounds at or below the key
    * (uniform by construction, string comparisons only — the exact
    * arithmetic the DuckDB oracle mirrors); pos is the dense 0-based
    * rank within the shard by (key, id).
    *
    * Scale shape: one window per shard — rows per shard = n/nShards,
    * and training wants MANY shards anyway (they are the read-
    * parallelism of the data loader), so the user sizes nShards to
    * bound partitions exactly as [[Packing.pack]]'s shardCol contract
    * does. A single global sort — the naive ORDER BY random() — would
    * be one serialized partition at any real size; reading shards in
    * id order and rows in pos order IS the shuffled order.
    */
  def trainingOrder(df: DataFrame, idCol: String, nShards: Int = 64): DataFrame = {
    require(nShards >= 1, s"nShards must be positive: $nShards")
    val k = md5(concat(col(idCol).cast("string"), lit("|shuffle")))
    val shard = (1 until nShards)
      .map(i => when(k >= hexThreshold(i.toDouble / nShards), 1L).otherwise(0L))
      .foldLeft(lit(0L))(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_k"), col(idCol))
    df.withColumn("_k", k)
      .withColumn("shard", shard)
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("_k")
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rate every document by
    * how much more likely its hashed-n-gram profile is under a TARGET
    * slice's bag-of-buckets model than under the raw pool's. Features
    * are [[graft.functions.VectorFunctions.hashEmbed]]'s md5 buckets
    * (the q69 convention — fixed `dim`-width space, no vocabulary to
    * ship); both models are add-k–smoothed bucket frequencies
    *
    *   p(b) = (c_target(b)+k)/(T_target+k·dim),  q(b) likewise over
    *   the whole pool,  log_w(d) = Σ_b cnt_d(b)·(ln p(b) − ln q(b))
    *
    * computed over the buckets the pool actually populates (an
    * unpopulated bucket can never be observed in a document, so it
    * cannot contribute a term). `isTarget` marks the target slice
    * (rows where it is null count as non-target); only documents with
    * ≥ 1 token are rated — a profile-based weight admits nothing it
    * cannot profile. Output: (doc_id, log_w nats rounded at 3,
    * n_tokens).
    *
    * Shape at 100 TB: the sparse (doc, bucket, cnt) stream never
    * explodes per token (one codegen'd hashEmbed pass per document,
    * ≤ dim rows out); both models live in ONE dim-bounded aggregate
    * whose log-ratio table broadcasts back onto the stream; the per-doc
    * sum is a map-side-combinable aggregation on the doc key.
    * Determinism: exact integer counts, correctly-rounded divisions,
    * ln within an ulp, rounded at 3 — the bigram-LM contract.
    */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, dim: Int = 64,
                     smoothK: Double = 0.5): DataFrame = {
    require(dim >= 1, s"dim must be positive: $dim")
    val sparse = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        coalesce(isTarget.cast("boolean"), lit(false)).as("_t"),
        posexplode(graft.functions.VectorFunctions.hashEmbed(col(textCol), dim))
          .as(Seq("bucket", "cnt")))
      .where(col("cnt") > 0)
      .select(col("doc_id"), col("_t"), col("bucket").cast("long").as("bucket"),
        col("cnt").cast("long").as("cnt"))
    val btab = sparse.groupBy(col("bucket")).agg(
      sum(when(col("_t"), col("cnt")).otherwise(lit(0L))).as("ct"),
      sum(col("cnt")).as("cr"))
    val tot = btab.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val kd = lit(smoothK) * dim
    val ratio = btab.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((col("ct").cast("double") + smoothK) /
            (col("tt").cast("double") + kd)) -
          log((col("cr").cast("double") + smoothK) /
            (col("tr").cast("double") + kd))).as("_lr"))
    sparse.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("cnt").cast("double") * col("_lr")), 3).as("log_w"),
        sum(col("cnt")).as("n_tokens"))
  }

  /** Persist the [[dsirLogWeights]] models as a layout: `buckets/`
    * (bucket, ct, cr — the exact target/pool counts) plus a `meta`
    * parameter table (dim, totals, smoothing k) — the deployment shape
    * of the importance filter: FIT ONCE against a labeled snapshot,
    * weigh any later corpus or stream against the frozen models
    * ([[dsirScoreWithModel]], [[graft.streaming.Streams.dsirGateSink]]).
    * Counts are exact integers, so build → reload → score reproduces
    * the in-memory weights bit-for-bit (spec-pinned); refreshing is a
    * rebuild — the frozen-geometry convention of the model layouts.
    */
  def buildDsirModel(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                     textCol: String, isTarget: Column, path: String,
                     dim: Int = 64, smoothK: Double = 0.5): Unit = {
    require(dim >= 1, s"dim must be positive: $dim")
    df.where(col(textCol).isNotNull)
      .select(coalesce(isTarget.cast("boolean"), lit(false)).as("_t"),
        posexplode(graft.functions.VectorFunctions.hashEmbed(col(textCol), dim))
          .as(Seq("bucket", "cnt")))
      .where(col("cnt") > 0)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(sum(when(col("_t"), col("cnt").cast("long")).otherwise(lit(0L)))
          .as("ct"),
        sum(col("cnt").cast("long")).as("cr"))
      .write.mode("overwrite").parquet(s"$path/buckets")
    val Array(tt, tr) = spark.read.parquet(s"$path/buckets")
      .agg(sum(col("ct")), sum(col("cr")))
      .collect().head.toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long]))
      .toArray
    require(tt > 0, "target slice has no tokens to fit the DSIR model on")
    graft.ops.Similarity.writeIndexMeta(spark, path, Seq(
      "layout" -> "dsir_model", "dim" -> dim.toString, "tt" -> tt.toString,
      "tr" -> tr.toString, "smooth_k" -> smoothK.toString))
  }

  /** Weigh documents under a FROZEN persisted DSIR model
    * ([[buildDsirModel]]) — identical arithmetic to [[dsirLogWeights]]
    * with the totals as plan literals from the model's meta table and
    * the log-ratio computed from the stored exact counts. Output
    * (doc_id, log_w, n_tokens) and determinism contract identical to
    * the in-memory fit; a corpus weighed by the model that fitted on it
    * reproduces [[dsirLogWeights]] exactly (spec-pinned). A bucket the
    * fit never saw cannot join (nothing hashed into it then), so a NEW
    * corpus can observe it — those tokens back off to the smoothing
    * floors k/(T+k·dim), the identical difference-of-logs arithmetic
    * folded as the coalesce default.
    */
  def dsirScoreWithModel(spark: org.apache.spark.sql.SparkSession,
                         df: DataFrame, idCol: String, textCol: String,
                         path: String): DataFrame = {
    val meta = graft.ops.Similarity.requireLayout(spark, path, "dsir_model")
    val dim = meta("dim").toInt
    val k = meta("smooth_k").toDouble
    val kd = lit(k) * dim
    val ratio = spark.read.parquet(s"$path/buckets")
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + k) /
            (lit(meta("tt").toLong).cast("double") + kd)) -
          log((coalesce(col("cr"), lit(0L)).cast("double") + k) /
            (lit(meta("tr").toLong).cast("double") + kd))).as("_lr"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.VectorFunctions.hashEmbed(col(textCol), dim))
          .as(Seq("bucket", "cnt")))
      .where(col("cnt") > 0)
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
        col("cnt").cast("long").as("cnt"))
      .join(broadcast(ratio), Seq("bucket"), "left")
      .select(col("doc_id"), col("cnt"),
        coalesce(col("_lr"),
          lit(math.log(k / (meta("tt").toLong + k * dim)) -
            math.log(k / (meta("tr").toLong + k * dim)))).as("_lr"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("cnt").cast("double") * col("_lr")), 3).as("log_w"),
        sum(col("cnt")).as("n_tokens"))
  }

  /** DSIR importance RESAMPLING — the selection step over
    * [[dsirLogWeights]]: draw `n` documents without replacement with
    * probability ∝ their importance weight, via deterministic Gumbel
    * top-k. Each document's key is log_w + Gumbel(md5(id)): the Gumbel
    * noise comes from the md5 coin every sampler here uses
    * (u = (first-8-nibbles + ½)/2³², g = −ln(−ln u)), so the "random"
    * draw is a pure function of (corpus, target slice, id) — re-runs,
    * repartitionings and engines agree row-for-row, and the DuckDB
    * oracle replays the identical arithmetic. Keys are rounded at 6
    * before ranking (ties fall to doc_id) so the cross-engine order is
    * exactly as deterministic as the values it sorts.
    *
    * Scale: the weight side is [[dsirLogWeights]]'s bounded-broadcast
    * shape; the selection is a TakeOrdered top-n, never a global sort.
    */
  def dsirResample(df: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, n: Int, dim: Int = 64,
                   smoothK: Double = 0.5): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    val w = dsirLogWeights(df, idCol, textCol, isTarget, dim, smoothK)
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    w.withColumn("_g", round(col("log_w") - log(-log(u)), 6))
      .orderBy(col("_g").desc, col("doc_id"))
      .limit(n)
      .drop("_g")
  }
}
