package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, content fingerprinting.
  *
  * All pure Column expressions (codegen'd, no UDFs); each has an exact
  * DuckDB-SQL oracle twin in [[graft.SparkEntry.oracleSql]].
  */
object TextAnalysis {

  /** Stopword lists for the n-gram/stopword language-ID heuristic.
    * Deliberately tiny and fixed: the operator contract is "deterministic
    * heuristic", not model-grade LID.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "no"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "que"))

  /** Language ID: per-language stopword hit count over token occurrences;
    * argmax with (1) 'und' (undetermined) when no list matches, (2)
    * alphabetical language order as tie-break. Pure projection — no
    * explode, no shuffle; all four language scores come out of ONE
    * [[graft.functions.VectorFunctions.tokenProfile]] pass (the
    * `filter(tokens, ...)` HOF form this replaced is interpreter-only in
    * Spark — it dropped the projection out of whole-stage codegen and
    * walked the token array once per language).
    */
  /** Canonical text normalization — the cleanup projection a corpus
    * runs BEFORE any content hashing, so that byte-level presentation
    * differences stop defeating dedup: Unicode NFC composition (the
    * codegen'd [[graft.functions.VectorFunctions.nfcNormalize]] — e +
    * combining acute and the precomposed é md5 identically afterwards),
    * optional lowercasing, C0/DEL control-character strip, whitespace
    * runs collapsed to one space, ends trimmed. Pure map-side Column
    * projection (one custom expression + two regexp_replace), no UDF,
    * no shuffle; order is fixed (NFC → case → strip → collapse → trim)
    * and mirrored literally in the q144 oracle, so the output
    * hash-checks cross-engine (utf8proc's nfc_normalize agrees with
    * java.text.Normalizer by the Unicode standard).
    */
  def normalizeText(text: Column, lowercase: Boolean = false): Column = {
    val nfc = graft.functions.VectorFunctions.nfcNormalize(text)
    val cased = if (lowercase) lower(nfc) else nfc
    trim(regexp_replace(
      regexp_replace(cased, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\n\\r]+", " "))
  }

  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = df
      .where(col(textCol).isNotNull) // explode-form dropped null-text docs; keep that contract
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions
          .tokenProfile(col(textCol), langs.map(stopwords)).as("_p"))
      .select(
        col("doc_id") +:
          langs.zipWithIndex.map { case (l, i) =>
            col("_p.hits").getItem(i).as(s"s_$l") }: _*)
    scored.select(col("doc_id"),
      languagePred(langs, i => col(s"s_${langs(i)}")).as("pred_lang"))
  }

  /** The language-ID DECISION over per-language hit counts: argmax with
    * 'und' when nothing matched, alphabetical tie-break (foldRight keeps
    * alphabetical priority — the FIRST when() in the chain is the
    * alphabetically smallest language). Shared by [[languageId]] and
    * the per-language curation routing so the two can never drift.
    */
  private def languagePred(langs: Seq[String], hit: Int => Column): Column = {
    val best = greatest(langs.indices.map(hit): _*)
    langs.zipWithIndex.foldRight(lit("und")) { case ((l, i), rest) =>
      when(best > 0 && hit(i) === best, lit(l)).otherwise(rest)
    }
  }

  /** [[languageId]] as two stacked projections over an arbitrary frame —
    * appends `langCol` (the q33 `pred_lang` decision, byte-identical)
    * while keeping every input column: the per-language curation
    * routing's shape ([[graft.ops.Curation.curateByLanguage]]). The
    * profile lands in a named intermediate column so the decision's
    * 4+ references share ONE tokenProfile pass.
    */
  def withLanguage(df: DataFrame, textCol: String,
                   langCol: String = "_lang"): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    df.withColumn("_lang_p", graft.functions.VectorFunctions
        .tokenProfile(col(textCol), langs.map(stopwords)))
      .withColumn(langCol,
        languagePred(langs, i => col("_lang_p.hits").getItem(i)))
      .drop("_lang_p")
  }

  /** Quality score in [0,1]: length saturation + type-token ratio +
    * stopword ratio (an n-gram-free proxy for "looks like language").
    * Pure projection: one [[graft.functions.VectorFunctions
    * .tokenProfile]] pass yields token count, distinct count and the
    * stopword hits together (the array_distinct + filter-HOF chain this
    * replaced materialized the token array three times, interpreted).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df
      .where(col(textCol).isNotNull) // explode-form dropped null-text docs; keep that contract
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions
          .tokenProfile(col(textCol), Seq(stopwords("en"))).as("_p"))
      .select(
        col("doc_id"),
        col("_p.n_tokens").as("n_tokens"),
        qualityFromProfile(col("_p")).as("quality"))

  /** The q34 quality formula over a [[graft.functions.VectorFunctions
    * .tokenProfile]] struct — one shared expression so [[qualityScore]]
    * and [[qualityCol]] can never drift.
    */
  private def qualityFromProfile(p: Column): Column =
    round(
      lit(0.4) * least(lit(1.0), p.getField("n_tokens") / 25.0) +
        lit(0.4) * (p.getField("n_distinct").cast("double") / p.getField("n_tokens")) +
        lit(0.2) * (p.getField("hits").getItem(0).cast("double") / p.getField("n_tokens")),
      4)

  /** [[qualityScore]]'s score as a single reusable Column over a text
    * column — for callers that want quality as a field of an existing
    * projection (e.g. the curate per-source cap) without a join.
    */
  def qualityCol(text: Column): Column =
    qualityFromProfile(
      graft.functions.VectorFunctions.tokenProfile(text, Seq(stopwords("en"))))

  /** Whitespace token count + a BPE-ish subword proxy: count of maximal
    * letter runs, digit runs, and single non-alphanumerics — the classic
    * pre-tokenizer regex, evaluated as a hand DFA in one code-point pass
    * ([[graft.functions.VectorFunctions.tokenCountsStruct]]; the
    * regexp_count form ran a java.util.regex Matcher per row). Pure
    * projection, no shuffle.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions.tokenCountsStruct(col(textCol)).as("_c"))
      .select(col("doc_id"),
        col("_c.ws_tokens").as("ws_tokens"),
        col("_c.bpe_tokens").as("bpe_tokens"))

  /** The pluggable tokenizer seam for every token-count CONSUMER in the
    * engine ([[Sampling.tokenBudgetFracs]] budgets, [[Packing.pack]]
    * offsets, …): those operators take a LONG count COLUMN, never a
    * tokenizer — so a real BPE count computed offline (or by any future
    * tokenizer expression) flows in as plain data, and whitespace is
    * only the default, not a baked-in assumption. This factory covers
    * the built-in approximations:
    *
    *  - `"ws"`     — whitespace tokens (the q35/q58 convention; default)
    *  - `"bpe"`    — the BPE-ish pre-tokenizer proxy (maximal letter
    *                 runs, digit runs, single non-alphanumerics — q35's
    *                 second column, same one-pass DFA)
    *  - `"chars4"` — ceil(chars/4), the classic quick BPE estimate when
    *                 text is cheap to length but expensive to tokenize
    *
    * All three are codegen'd projections; nulls propagate (consumers
    * filter or coalesce per their own null contract).
    */
  def tokenCountColumn(text: Column, tokenizer: String = "ws"): Column =
    tokenizer match {
      case "ws" =>
        graft.functions.VectorFunctions.tokenCountsStruct(text)
          .getField("ws_tokens")
      case "bpe" =>
        graft.functions.VectorFunctions.tokenCountsStruct(text)
          .getField("bpe_tokens")
      case "chars4" =>
        ceil(length(text).cast("double") / 4.0).cast("long")
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer '$other' (ws | bpe | chars4); for a real BPE, " +
          "precompute a count column and pass it to the consumer directly")
    }

  /** The whitespace token array, empties dropped — the one tokenizer of
    * the count-based operators here (and of their DuckDB twins). */
  private def wsTokens(textCol: String): Column =
    expr(s"filter(split($textCol, ' '), x -> x <> '')")

  private def tokenFrame(df: DataFrame, textCol: String, keep: Column*): DataFrame =
    df.where(col(textCol).isNotNull).select(keep :+ wsTokens(textCol).as("t"): _*)

  private def bigramStream(toks: DataFrame, keep: Seq[Column]): DataFrame =
    toks.where(size(col("t")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("b"): _*)
      .select(keep ++ Seq(col("b.w1").as("w1"), col("b.w2").as("w2")): _*)

  // ── Shared scaffolding of the learned filters (the add-k bigram LM and
  // weak-label NB): ONE count recipe per filter, shared by the in-memory
  // fit and the layout build, and ONE scorer per filter, shared by the
  // in-memory and the frozen form. A scorer reads its totals through `v`:
  // columns of the broadcast one-row `totals` frames in memory, plan
  // literals from the model's meta when frozen (read once, by the
  // layout's loader).

  private def bigramCounts(toks: DataFrame): (DataFrame, DataFrame) = (
    bigramStream(toks, Seq.empty)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
    toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1")))

  private def addK(c12: Column, c1: Column, k: Double, nv: Column): Column =
    (c12.cast("double") + k) / (c1.cast("double") + lit(k) * nv)

  private def withTotals(df: DataFrame, totals: Seq[DataFrame]): DataFrame =
    totals.foldLeft(df)((d, t) => d.crossJoin(broadcast(t)))

  private def bigramXent(df: DataFrame, idCol: String, textCol: String,
                         big: DataFrame, uni: DataFrame, totals: Seq[DataFrame],
                         k: Double, v: String => Column): DataFrame =
    withTotals(bigramStream(tokenFrame(df, textCol, col(idCol).as("doc_id")),
          Seq(col("doc_id")))
        .join(big, Seq("w1", "w2"), "left")
        .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"), "left"),
      totals)
      .select(col("doc_id"), col("c12").isNull.as("_oov"),
        addK(coalesce(col("c12"), lit(0L)), coalesce(col("c1"), lit(0L)),
          k, v("nv")).as("_p"))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log2(col("_p"))), 3).as("xent_bits"),
        count(lit(1)).as("n_bigrams"),
        count(when(col("_oov"), lit(1))).as("n_oov"))

  private def nbCounts(labeled: DataFrame): DataFrame =
    labeled.select(col("_y"), explode(col("t")).as("w"))
      .groupBy(col("w")).agg(
        count(when(col("_y") === 1, lit(1))).as("c1"),
        count(when(col("_y") === 0, lit(1))).as("c0"))

  private def nbTotals(cw: DataFrame): DataFrame =
    cw.agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"),
      count(lit(1)).as("nv"))

  private def nbPriors(labeled: DataFrame): DataFrame =
    labeled.agg(
      count(when(col("_y") === 1, lit(1))).as("n1"),
      count(when(col("_y") === 0, lit(1))).as("n0"))

  private def nbLogOdds(toks: DataFrame, cw: DataFrame, totals: Seq[DataFrame],
                        smoothK: Double, v: String => Column): DataFrame = {
    val k = lit(smoothK)
    withTotals(toks.join(cw, Seq("w"), "left"), totals)
      .withColumn("_term",
        log2((coalesce(col("c1"), lit(0L)).cast("double") + k) /
            (v("t1").cast("double") + k * v("nv"))) -
          log2((coalesce(col("c0"), lit(0L)).cast("double") + k) /
            (v("t0").cast("double") + k * v("nv"))))
      .groupBy(col("doc_id"))
      .agg(round(first(log2(v("n1").cast("double") / v("n0"))) +
          sum(col("_term")), 3).as("log_odds"),
        count(lit(1)).as("n_tokens"))
      .withColumn("pred", (col("log_odds") > 0).cast("int"))
  }

  /** Corpus vocabulary: whitespace-token → frequency over the whole
    * corpus, `minCount` floor, deterministic top-`topN` (count desc, then
    * token) — the tokenizer-training / vocab-audit primitive.
    *
    * Shape at 100 TB: the token stream is a projection (split + filter +
    * explode, no shuffle); the count is ONE exchange on the token key
    * with map-side partial aggregation, so the shuffle carries one row
    * per (mapper, distinct token), not per token occurrence; the final
    * top-N plans as TakeOrderedAndProject — no global sort. Junk-token
    * cardinality (the classic vocab blow-up) is bounded by the partial
    * aggregation hash maps spilling, not by driver memory: only topN
    * rows ever leave the cluster.
    */
  def vocab(df: DataFrame, textCol: String,
            minCount: Long = 2, topN: Int = 1000): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(explode(wsTokens(textCol)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token"))
      .limit(topN)

  /** Bigram collocations ranked by PMI ratio — which adjacent token
    * pairs co-occur more than their unigram frequencies predict (the
    * phrase-mining / tokenizer-merge-candidate primitive). The score is
    * the LOG-FREE pointwise-mutual-information ratio
    *
    *   score(w1,w2) = c(w1,w2) · N / (c(w1) · c(w2)),  N = Σ c(w1,w2)
    *
    * kept as a raw ratio deliberately: it is monotonic in PMI and uses
    * only IEEE-exact integer-valued products and one correctly-rounded
    * division, so the DuckDB oracle hash-matches — `ln` is not
    * correctly-rounded across engines. Bigrams/unigrams are drawn from
    * the same empty-filtered token stream; `minCount` floors the pair
    * count (rare-pair PMI is noise).
    *
    * Shape at 100 TB: bigrams are a projection (one struct per adjacent
    * pair); pair and unigram counts are each one map-side-combined
    * exchange; N is a 1-row aggregate broadcast into the score; the two
    * unigram joins are key joins on the token (AQE broadcasts the vocab
    * side when it is small); top-N is TakeOrderedAndProject.
    */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5, topN: Int = 100): DataFrame = {
    val (big, uni) = bigramCounts(tokenFrame(df, textCol))
    big.where(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c1").as("_c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("_c2")), "w2")
      .crossJoin(broadcast(big.agg(sum(col("c12")).as("_n"))))
      // association order pinned to the oracle: (pair·N) / (c1·c2), all
      // factors integer-valued doubles < 2^53 -> exact products, one
      // correctly-rounded division
      .select(col("w1"), col("w2"), col("c12").as("pair_count"),
        round((col("c12").cast("double") * col("_n")) /
          (col("_c1").cast("double") * col("_c2")), 6).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Bigram-LM cross-entropy score — the KenLM-style statistical quality
    * filter: train add-k-smoothed bigram probabilities on the corpus,
    * p(w2|w1) = (c(w1,w2)+k)/(c(w1)+k·V), and score every document by
    * its average bits per bigram, −mean log₂ p. Templated / repetitive
    * documents score LOW (their transitions are corpus-typical to the
    * point of degeneracy); lexically incoherent ones score HIGH — both
    * tails are what the filter trims. Scoring the training corpus itself
    * (self-perplexity) needs no external model and every scored bigram
    * is in the table, so the probability join is inner.
    *
    * Shape at 100 TB: the bigram stream is a projection; model training
    * is two map-side-combined counts + a 1-row vocab broadcast; scoring
    * is one fixed-width-key join of the doc bigram stream against the
    * model and a per-doc aggregation. The smoothing arithmetic is exact
    * (integer-valued doubles, one correctly-rounded division), so the
    * probabilities match the oracle bit-for-bit; log₂ is within an ulp
    * across engines and the score rounds at 3 decimals — noise sits ten
    * orders below the rounding grain.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
                    smoothK: Double = 0.5): DataFrame = {
    val toks = tokenFrame(df, textCol, col(idCol).as("doc_id"))
    val (big, uni) = bigramCounts(toks)
    val probs = big
      .join(uni.select(col("w").as("w1"), col("c1")), "w1")
      .crossJoin(broadcast(uni.agg(count(lit(1)).as("nv"))))
      .select(col("w1"), col("w2"),
        addK(col("c12"), col("c1"), smoothK, col("nv")).as("_p"))
    bigramStream(toks, Seq(col("doc_id"))).join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log2(col("_p"))), 3).as("xent_bits"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Cross-corpus bigram cross-entropy — the CCNet-style filter shape
    * [[bigramLmScore]]'s self-perplexity can't express: the add-k bigram
    * model is trained on a REFERENCE slice (a trusted corpus: the target
    * language, a curated source) and every document of `score` is rated
    * by how surprising its transitions are UNDER THAT MODEL. In-domain
    * documents score low; out-of-domain / wrong-language / incoherent
    * ones score high — the single knob a perplexity-bucketed mixture
    * (keep the middle, trim both tails against the reference) needs.
    *
    * Unseen events are where cross-scoring differs from self-scoring and
    * the smoothing becomes load-bearing: a scored bigram absent from the
    * training table backs off to p = (0+k)/(c(w1)+k·V), and an unseen
    * LEFT word to the uniform floor k/(k·V) = 1/V — both produced by the
    * same one expression over null-coalesced counts, so there is no
    * separate backoff path to diverge from the oracle. `n_oov` counts a
    * document's unseen-bigram events (an exact integer), the secondary
    * signal a language-ID-free domain filter thresholds on.
    *
    * Output: (doc_id, xent_bits, n_bigrams, n_oov) for every `score`
    * document with ≥ 2 tokens — the [[bigramLmScore]] membership
    * contract.
    *
    * Shape at 100 TB: the model is two map-side-combined counts over the
    * reference slice + a 1-row vocab broadcast; scoring is two
    * fixed-width-key left joins of the scored bigram stream against the
    * count tables (AQE broadcasts them when the reference is small; at
    * reference scale they shuffle on bounded string keys) and one per-doc
    * aggregation. Determinism contract as [[bigramLmScore]]: counts are
    * exact integers, the probability is one correctly-rounded division of
    * integer-valued(+k) doubles, log₂ within an ulp, rounded at 3
    * decimals.
    */
  def bigramLmScoreAgainst(train: DataFrame, score: DataFrame,
                           idCol: String, textCol: String,
                           smoothK: Double = 0.5): DataFrame = {
    val (big, uni) = bigramCounts(tokenFrame(train, textCol))
    bigramXent(score, idCol, textCol, big, uni,
      Seq(uni.agg(count(lit(1)).as("nv"))), smoothK, col)
  }

  /** Persist the [[bigramLmScoreAgainst]] reference model as a layout:
    * `bigrams/` (w1, w2, c12), `unigrams/` (w, c1) plus a `meta`
    * parameter table (vocabulary size, smoothing k) — the deployment
    * shape of the perplexity filter: TRAIN ONCE on the trusted slice,
    * score any later corpus or stream against the frozen model
    * ([[bigramScoreWithModel]], [[graft.streaming.Streams.pplGateSink]]).
    * The model is exact integer counts, so build → reload → score
    * reproduces the in-memory fit bit-for-bit (spec-pinned); refreshing
    * against a new trusted slice is a rebuild (the frozen-geometry
    * convention of the index layouts, same as [[buildNbModel]]).
    */
  def buildBigramLm(spark: org.apache.spark.sql.SparkSession,
                    train: DataFrame, textCol: String, path: String,
                    smoothK: Double = 0.5): Unit = {
    val (big, uni) = bigramCounts(tokenFrame(train, textCol))
    big.write.mode("overwrite").parquet(s"$path/bigrams")
    uni.write.mode("overwrite").parquet(s"$path/unigrams")
    val nv = spark.read.parquet(s"$path/unigrams").count()
    require(nv > 0, "training slice has no tokens to fit a bigram LM on")
    Similarity.writeIndexMeta(spark, path, Seq(
      "layout" -> "bigram_lm", "nv" -> nv.toString,
      "smooth_k" -> smoothK.toString))
  }

  /** Score documents under a FROZEN persisted bigram LM
    * ([[buildBigramLm]]) — identical arithmetic to
    * [[bigramLmScoreAgainst]] with the vocabulary size as a plan literal
    * from the model's meta table (one bounded driver read) and the count
    * joins against the stored `bigrams/` / `unigrams/` layouts. Output
    * (doc_id, xent_bits, n_bigrams, n_oov) and determinism contract
    * identical to the in-memory form; a corpus scored by the model that
    * trained on it reproduces [[bigramLmScoreAgainst]] exactly
    * (spec-pinned).
    */
  def bigramScoreWithModel(spark: org.apache.spark.sql.SparkSession,
                           df: DataFrame, idCol: String, textCol: String,
                           path: String): DataFrame =
    bigramModel(spark, path, idCol, textCol)(df)

  /** Open a [[buildBigramLm]] layout once (layout check, meta read, count
    * tables) and return its scorer — reused per batch by the gates. */
  private[graft] def bigramModel(spark: org.apache.spark.sql.SparkSession,
                                 path: String, idCol: String,
                                 textCol: String): DataFrame => DataFrame = {
    val meta = Similarity.requireLayout(spark, path, "bigram_lm")
    val big = spark.read.parquet(s"$path/bigrams")
    val uni = spark.read.parquet(s"$path/unigrams")
    df => bigramXent(df, idCol, textCol, big, uni, Seq.empty,
      meta("smooth_k").toDouble, key => lit(meta(key).toLong))
  }

  /** Perplexity-bucketed partition — the CCNet head/middle/tail split
    * over [[bigramLmScoreAgainst]]: every scorable document is labeled
    * `head` (xent_bits < `loBits`: suspiciously predictable —
    * boilerplate, templates, duplicated spans), `middle` (the keep
    * band), or `tail` (≥ `hiBits`: out-of-domain, wrong language,
    * incoherent). The classic trim keeps `middle`; emitting the label
    * instead of pre-filtering lets a mixture recipe weight the bands
    * (CCNet trains on head+middle with tail downsampled, not dropped).
    *
    * Thresholds are FIXED literals by design — the deployment shape: at
    * 100 TB the cuts are derived once offline (e.g. `approxQuantile` on
    * a sample, or the published per-language tables) and applied as
    * plan constants, so the partition is a pure per-row CASE over the
    * scorer's output with no global sort or quantile pass in the hot
    * path. Comparisons are against the ROUNDED xent_bits, so band
    * membership is as deterministic as the score itself.
    */
  def perplexityPartition(train: DataFrame, score: DataFrame,
                          idCol: String, textCol: String,
                          loBits: Double, hiBits: Double,
                          smoothK: Double = 0.5): DataFrame = {
    val band = perplexityBand(loBits, hiBits)
    bigramLmScoreAgainst(train, score, idCol, textCol, smoothK)
      .withColumn("bucket", band)
  }

  /** [[perplexityPartition]]'s head/middle/tail label over `xent_bits`,
    * shared with the score task's `lo_bits`/`hi_bits` band.
    */
  private[graft] def perplexityBand(loBits: Double, hiBits: Double): Column = {
    require(loBits < hiBits, s"need loBits < hiBits: $loBits >= $hiBits")
    when(col("xent_bits") < loBits, lit("head"))
      .when(col("xent_bits") >= hiBits, lit("tail"))
      .otherwise(lit("middle"))
  }

  /** Weak-label Naive-Bayes document scorer — the learned quality filter
    * in its distributable closed form (the GPT-3/CCNet recipe: label a
    * slice by provenance — curated sources positive, raw crawl negative —
    * train a token classifier, keep what scores "curated-like"). A
    * multinomial NB with add-k smoothing IS that classifier without an
    * optimizer: training is exact integer counting (fully map-side
    * combinable), scoring is one join and one sum — no gradient loop, no
    * float accumulation order in the MODEL, so the whole fit is
    * deterministic and oracle-checkable where an SGD fit would not be.
    *
    * Trains on rows with a non-null 0/1 `labelCol` (both classes must be
    * present); scores EVERY non-null-text row — the semi-supervised
    * shape: label what provenance can label, score the rest. Per
    * document with ≥ 1 token:
    *
    *   log_odds = log₂(N₁/N₀) + Σ_w [log₂ p(w|1) − log₂ p(w|0)],
    *   p(w|c) = (count(w,c)+k) / (tokens_c + k·V)
    *
    * with V = the training vocabulary and unseen-token counts
    * null-coalesced to 0 — one smoothing expression, no separate backoff
    * path. Output: (doc_id, log_odds, n_tokens, pred) with pred
    * thresholded on the ROUNDED score so the label is as deterministic
    * as the score it derives from.
    *
    * Shape at 100 TB: the model is ONE map-side-combined count over
    * (token, class-conditional pair) plus two 1-row broadcasts (totals /
    * vocab, priors); scoring left-joins the token stream against the
    * count table on a bounded string key (AQE broadcasts small models)
    * and aggregates per doc. Determinism contract as [[bigramLmScore]]:
    * exact counts, correctly-rounded divisions, log₂ within an ulp,
    * rounded at 3 decimals.
    */
  def naiveBayesScore(df: DataFrame, idCol: String, textCol: String,
                      labelCol: String, smoothK: Double = 0.5): DataFrame = {
    val base = tokenFrame(df, textCol, col(idCol).as("doc_id"),
      col(labelCol).cast("int").as("_y"))
    val train = base.where(col("_y").isNotNull)
    val cw = nbCounts(train)
    nbLogOdds(base.select(col("doc_id"), explode(col("t")).as("w")), cw,
      Seq(nbTotals(cw), nbPriors(train)), smoothK, col)
  }

  /** Persist the [[naiveBayesScore]] fit as a layout: `counts/`
    * (w, c1, c0) plus a `meta` parameter table (token totals, vocabulary,
    * class priors, the smoothing k) — the deployment shape of the learned
    * filter: TRAIN ONCE on a labeled snapshot, score any later corpus or
    * stream against the frozen model ([[nbScoreWithModel]],
    * [[graft.streaming.Streams.nbGateSink]]). The model is exact integer
    * counts, so build → reload → score reproduces the in-memory fit
    * bit-for-bit; refreshing the model against new labels is a rebuild
    * (the frozen-geometry convention of the index layouts).
    */
  def buildNbModel(spark: org.apache.spark.sql.SparkSession, train: DataFrame,
                   textCol: String, labelCol: String, path: String,
                   smoothK: Double = 0.5): Unit = {
    val lab = tokenFrame(train, textCol, col(labelCol).cast("int").as("_y"))
      .where(col("_y").isNotNull)
    nbCounts(lab).write.mode("overwrite").parquet(s"$path/counts")
    def longs(row: DataFrame) =
      row.collect().head.toSeq.map(_.asInstanceOf[Long].toString).toArray
    val Array(t1, t0, nv) = longs(nbTotals(spark.read.parquet(s"$path/counts")))
    val Array(n1, n0) = longs(nbPriors(lab))
    require(n1.toLong > 0 && n0.toLong > 0,
      s"both classes must be present to fit: n1=$n1 n0=$n0")
    Similarity.writeIndexMeta(spark, path, Seq(
      "layout" -> "nb_model", "t1" -> t1, "t0" -> t0, "nv" -> nv,
      "n1" -> n1, "n0" -> n0, "smooth_k" -> smoothK.toString))
  }

  /** Score documents under a FROZEN persisted NB model
    * ([[buildNbModel]]) — identical arithmetic to [[naiveBayesScore]]
    * with the totals/priors as plan literals from the model's meta table
    * (one bounded driver read) and the count join against the stored
    * `counts/` layout. Output and determinism contract identical to the
    * in-memory fit; a corpus scored by the model that trained on it
    * reproduces [[naiveBayesScore]] exactly (spec-pinned).
    */
  def nbScoreWithModel(spark: org.apache.spark.sql.SparkSession,
                       df: DataFrame, idCol: String, textCol: String,
                       path: String): DataFrame =
    nbModel(spark, path, idCol, textCol)(df)

  /** Open a [[buildNbModel]] layout once (layout check, meta read, count
    * table) and return its scorer — reused per batch by the gates. */
  private[graft] def nbModel(spark: org.apache.spark.sql.SparkSession,
                             path: String, idCol: String,
                             textCol: String): DataFrame => DataFrame = {
    val meta = Similarity.requireLayout(spark, path, "nb_model")
    val cw = spark.read.parquet(s"$path/counts")
    df => nbLogOdds(df.where(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"), explode(wsTokens(textCol)).as("w")),
      cw, Seq.empty, meta("smooth_k").toDouble, key => lit(meta(key).toLong))
  }

  /** TF-IDF top terms per document — the keyword/topic-signal primitive
    * (domain tagging, mixture labeling, boilerplate spotting). For each
    * document's distinct tokens: tf = occurrences in the doc, df = number
    * of docs containing the token, and the sklearn-style smooth idf
    *
    *   idf(t) = log₂((N + 1) / (df + 1)) + 1,   score = tf · idf
    *
    * keeping the top `perDoc` terms per document by (rounded score desc,
    * token asc). The ratio (N+1)/(df+1) is an exact quotient of
    * integer-valued doubles, log₂ is within an ulp across engines, and
    * the score rounds at 4 decimals — the same determinism contract as
    * [[bigramLmScore]], so the DuckDB oracle hash-matches.
    *
    * Shape at 100 TB: tf is one map-side-combined exchange on
    * (doc, token); df is a TWO-LEVEL aggregate over the tf table joined
    * back onto it (round 7 — the count window this replaced funneled a
    * stopword-grade token's every posting onto ONE unsplittable
    * reducer; the aggregate's partials are (mapper, token)-bounded and
    * the join back is AQE-splittable, with both branches sharing the tf
    * exchange — see the body comment and BASELINE.md's retrieval
    * section); N is a 1-row broadcast; the per-doc top-k is a window
    * over the doc key. No row ever carries the document text past the
    * tokenizer.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
            perDoc: Int = 3): DataFrame = {
    val tf = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(wsTokens(textCol)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val n = df.where(col(textCol).isNotNull)
      .agg(count(lit(1)).as("_n"))
    // df as a TWO-LEVEL aggregate + join-back, NOT a token-partitioned
    // count window: a window puts every posting of a stopword-grade
    // token on ONE reducer (unsplittable by construction), while the
    // groupBy's map-side partial combine shuffles one row per (mapper,
    // token) and the join back is AQE-broadcastable (vocab-bounded) or
    // skew-splittable — the Zipfian-corpus bench measures the difference
    // (BASELINE.md retrieval section). Same value: df = tf rows per
    // token (tf ≥ 1 by construction, so count(tf ≥ 1) = count(*) — the
    // tf reference exists ONLY so column pruning cannot rewrite this
    // branch into a distinct with a different subtree; with it, both df
    // branches share ONE tf exchange and the corpus is scanned once —
    // plan-pinned by ScaleSafetySpec).
    val dfreq = tf.groupBy(col("token"))
      .agg(count(when(col("tf") >= 1, true)).as("_df"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf").cast("double") *
          (log2((col("_n").cast("double") + 1.0d) /
                (col("_df").cast("double") + 1.0d)) + 1.0d), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= perDoc)
      .select(col("doc_id"), col("token"), col("tf"), col("score"))
  }

  /** BM25 retrieval over the corpus for a fixed bag of query terms — the
    * lexical-search primitive (benchmark decontamination by query,
    * targeted corpus audits, seed-document mining). Okapi BM25 with the
    * Lucene idf (always positive, no negative-idf clamping needed):
    *
    *   idf(t)    = log₂(1 + (N − df + 0.5)/(df + 0.5))
    *   score(d)  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with dl = whitespace-token length of d and avgdl its corpus mean.
    * All divisions are IEEE-exact-input correctly-rounded operations
    * evaluated in the same textual order as the oracle; log₂ is within
    * an ulp; the final score rounds at 4 decimals ([[bigramLmScore]]'s
    * contract). Top `topN` docs by (score desc, doc_id).
    *
    * Shape at 100 TB: the tf table is a projection + ONE map-side-
    * combined exchange (the token stream is pre-filtered to the query
    * terms, so it carries ≤ |terms| rows per doc), with the doc length
    * CARRIED through the aggregation as first(dl) — 8 bytes per row
    * instead of a doc-keyed join of the full length table back onto tf;
    * N/avgdl are a 1-row broadcast; df per term aggregates the tiny tf
    * table to ≤ |terms| rows and is broadcast (a window over the token
    * key would put every row of a term on one reducer — ≤ |terms| live
    * keys is exactly the degenerate case for a key-partitioned window);
    * the ranking plans as TakeOrderedAndProject — no global sort.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           topN: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val toks = tokenFrame(df, textCol, col(idCol).as("doc_id"))
    val stats = bm25Stats(toks)
    val tf = bm25Tf(toks, _.where(col("token").isin(queryTerms: _*)))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), okapiWeight(k1, b).as("_s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("_s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  // ── Shared scaffolding of [[bm25]] and [[bm25Join]]: ONE definition of
  // the (N, avgdl) stats row, the filtered tf table with the carried doc
  // length, and the Okapi weight over the one [[tokenFrame]] — the
  // engine-side twin of the shared oracle CTE fragments, so the two
  // retrieval forms (and their DuckDB twins) cannot drift apart.

  private def bm25Stats(toks: DataFrame): DataFrame =
    toks.select(size(col("t")).cast("double").as("dl"))
      .agg(count(lit(1)).as("_n"), avg(col("dl")).as("_avgdl"))

  /** tf over the term-filtered token stream, doc length carried through
    * as first(dl). `termFilter` restricts the exploded stream BEFORE the
    * exchange.
    */
  private def bm25Tf(toks: DataFrame,
                     termFilter: DataFrame => DataFrame): DataFrame =
    termFilter(
      toks.select(col("doc_id"), size(col("t")).cast("double").as("dl"),
        explode(col("t")).as("token")))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** The Okapi/Lucene-idf weight over columns (tf, _df, dl, _n, _avgdl) —
    * written in the exact textual evaluation order of the oracle SQL.
    */
  private def okapiWeight(k1: Double, b: Double): Column =
    log2(lit(1.0d) +
        (col("_n").cast("double") - col("_df").cast("double") + 0.5d) /
        (col("_df").cast("double") + 0.5d)) *
      (col("tf").cast("double") * (k1 + 1.0d)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0d - b) + lit(b) * col("dl") / col("_avgdl")))

  /** Batch BM25 retrieval JOIN — [[bm25]] generalized from one query bag
    * to a QUERY TABLE: top `topN` corpus docs per query, scored with the
    * same Okapi/Lucene-idf arithmetic. The lexical twin of the vector
    * k-NN joins (ivfKnnJoin/lshKnnJoin): benchmark decontamination runs
    * this with the benchmark as the query side and drops every corpus
    * doc that ranks for any benchmark item. Query terms are the DISTINCT
    * tokens of each query text.
    *
    * Shape at 100 TB: the corpus tf table is prefiltered by a semi-join
    * against the query vocabulary BEFORE its exchange — the shuffle
    * carries only query-relevant (doc, token) rows. The semi-join
    * carries NO broadcast hint deliberately: for decontamination-sized
    * query sets AQE broadcasts it, and a corpus-scale query side (whose
    * vocabulary approaches the corpus's) degrades to a shuffle
    * semi-join instead of materializing an unbounded vocab in memory.
    * df per term is a two-level map-side-combined aggregate joined
    * back onto the postings (like [[tfidf]]'s — never a token-
    * partitioned window, whose per-key partitions are unsplittable
    * and funnel a hot term's postings onto one reducer); the per-posting
    * weight (a pure function of tf/df/dl, NOT of the query) is computed
    * ONCE per posting before the join, so the inverted-index equi-join
    * (query terms × posting rows) carries one precomputed double and
    * the (query, doc) aggregation just sums — the fan-out rows never
    * re-evaluate the scoring arithmetic; N/avgdl are a 1-row broadcast;
    * the per-query cut is a window over the query key.
    *
    * SIZING GUARDRAIL: when the join runs UNCAPPED (maxDfFrac = 1.0),
    * an `observe` node collects the query vocabulary's max df during
    * the job itself (no extra scan, no plan change beyond the metric
    * collector) and a session listener emits one WARN — recorded in
    * [[lastSizingWarning]] — if some query term matches more than
    * [[SizingFracThreshold]] of the corpus AND carries more than
    * [[SizingMinDf]] postings. Both conditions deliberately: the
    * Zipfian bench (BASELINE.md) measured that the stopword fan-out is
    * what the cap trims (3.6×), while on a small-vocabulary corpus the
    * same FRACTION is a few hundred rows and the cap's filter costs
    * more than it saves — fraction flags the shape, absolute df flags
    * that it matters.
    *
    * `maxDfFrac` is the hot-term throttle the Zipfian bench motivates
    * (BASELINE.md retrieval section): a stopword-grade query term
    * matches nearly EVERY document, so its postings × queries fan-out
    * dominates the join (df × |queries containing it| rows) while its
    * Lucene idf ≈ log₂(1 + ~0) contributes ≈ nothing to any score.
    * Postings with df > maxDfFrac·N are dropped AFTER df is computed,
    * so every surviving term's weight is bit-identical to the exact
    * form — the cut changes a doc's score by at most the dropped
    * terms' near-zero idf mass. Default 1.0 = exact (the oracle-checked
    * q85/q86 path, plan untouched).
    */
  /** [[bm25Join]] guardrail policy: warn when some query term's df
    * exceeds BOTH this fraction of the corpus and [[SizingMinDf]]
    * postings. 0.5 is the "stopword-grade" line from the Zipfian bench.
    */
  val SizingFracThreshold: Double = 0.5

  /** Absolute-posting floor for the guardrail: below this, even a
    * corpus-dominating term is a trivial fan-out and the cap's filter
    * would cost more than it trims (the measured fixture inversion,
    * BASELINE.md retrieval section).
    */
  val SizingMinDf: Long = 100000L

  private val sizingMetricId = new java.util.concurrent.atomic.AtomicLong()

  // per-session guardrail state, keyed WEAKLY: the map must not retain
  // stopped sessions (or, through them, their listeners) for the
  // process lifetime, and the value must not reference the session or
  // the weak key never clears. Presence of a value doubles as the
  // "listener registered" marker.
  private val sizingState = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.atomic.AtomicReference[Option[String]]]())

  /** The SESSION's last guardrail warning (None = none fired) —
    * spec/ops visibility; the warning itself goes to the session log at
    * WARN. Scoped per session so concurrent sessions never observe each
    * other's warnings.
    */
  def lastSizingWarning(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.atomic.AtomicReference[Option[String]] =
    ensureSizingListener(spark)

  /** One QueryExecutionListener per session reads the observe-metrics
    * rows of uncapped [[bm25Join]] runs — the check rides the job's own
    * aggregation, costing zero extra scans. Returns the session's
    * warning ref.
    */
  private def ensureSizingListener(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.atomic.AtomicReference[Option[String]] = {
    val existing = sizingState.get(spark)
    if (existing != null) existing
    else sizingState.synchronized {
      val again = sizingState.get(spark)
      if (again != null) again
      else {
        val ref =
          new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
        sizingState.put(spark, ref)
        spark.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit =
              qe.observedMetrics.foreach { case (name, row) =>
                if (name.startsWith("graft_bm25_sizing_") &&
                    !row.isNullAt(0) && !row.isNullAt(1)) {
                  val maxDf = row.getLong(0)
                  val n = row.getLong(1)
                  if (n > 0 && maxDf > SizingFracThreshold * n &&
                      maxDf > SizingMinDf) {
                    val msg =
                      f"bm25Join ran UNCAPPED with a stopword-grade query term: " +
                      f"max df $maxDf%d of $n%d docs (${100.0 * maxDf / n}%.0f%%) — " +
                      f"its postings×queries fan-out dominates the join while its " +
                      f"idf contributes ~nothing; set maxDfFrac (e.g. 0.5) to trim it " +
                      f"(surviving weights are bit-identical)"
                    ref.set(Some(msg))
                    org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
                  }
                }
              }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          })
        ref
      }
    }
  }

  def bm25Join(df: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k1: Double = 1.2, b: Double = 0.75,
               topN: Int = 10, maxDfFrac: Double = 1.0): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1]: $maxDfFrac")
    val qterms = queries.where(col(qtextCol).isNotNull)
      .select(col(qidCol).as("q_id"),
        explode(wsTokens(qtextCol))
          .as("token"))
      .distinct()
    val qvocab = qterms.select(col("token")).distinct()
    val toks = tokenFrame(df, textCol, col(idCol).as("doc_id"))
    val stats = bm25Stats(toks)
    // df via two-level aggregate + join-back (see [[tfidf]]): the former
    // token-partitioned count window was the family's one uncapped
    // hot-token funnel — a stopword-grade query term put ALL its
    // postings on one reducer. The tf exchange is shared by both
    // branches (ReusedExchange); dfreq is query-vocab-bounded and
    // hint-free like the semi-join, for the same corpus-scale reason.
    val tf0 = bm25Tf(toks, _.join(qvocab, Seq("token"), "left_semi"))
    // count(tf ≥ 1) = count(*) (tf ≥ 1 by construction): the tf
    // reference pins this branch to the SAME tf subtree as the join
    // side so the exchange is reused — see [[tfidf]]
    val dfreq = tf0.groupBy(col("token"))
      .agg(count(when(col("tf") >= 1, true)).as("_df"))
    val tf = tf0.join(dfreq, "token")
    val withStats0 = tf.crossJoin(broadcast(stats))
    val withStats = if (maxDfFrac >= 1.0) {
      // uncapped: collect the sizing evidence during the job itself
      ensureSizingListener(df.sparkSession)
      withStats0.observe(
        s"graft_bm25_sizing_${sizingMetricId.incrementAndGet()}",
        max(col("_df")).as("max_df"), max(col("_n")).as("n_docs"))
    } else withStats0
    val capped = if (maxDfFrac < 1.0)
      withStats.where(col("_df").cast("double") <=
        lit(maxDfFrac) * col("_n").cast("double"))
    else withStats
    val postings = capped
      .select(col("doc_id"), col("token"), okapiWeight(k1, b).as("_s"))
    val scored = qterms.join(postings, "token")
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(col("_s")), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= topN)
      .select(col("q_id"), col("doc_id"), col("score"))
  }

  /** Retrieval-based decontamination — the third industry-standard
    * screen beside n-gram overlap ([[graft.ops.Dedup.decontaminate]])
    * and Bloom-prefiltered exact matching: a corpus document is
    * contaminated when it ranks in ANY benchmark item's BM25 top
    * `topN`. Rank-based rather than score-thresholded — BM25 scores are
    * corpus-dependent and uncalibrated, ranks are the stable quantity.
    * Output is the keep-table form the cleaning passes consume
    * (benchmark items present in the corpus rank top for themselves and
    * are correctly dropped). One [[bm25Join]] + a fixed-width id
    * anti-flag join; null-text docs never rank, so they keep.
    */
  def retrievalDecontaminate(corpus: DataFrame, idCol: String,
                             textCol: String, benchmark: DataFrame,
                             qidCol: String, qtextCol: String,
                             topN: Int = 3): DataFrame = {
    val contaminated = bm25Join(corpus, idCol, textCol,
        benchmark, qidCol, qtextCol, topN = topN)
      .select(col("doc_id")).distinct()
      .withColumn("_hit", lit(1))
    corpus.select(col(idCol).as("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_hit").isNotNull, 0L).otherwise(1L).as("keep"))
  }

  /** Corpus-driven stop-token pruning — the boilerplate-trimming step:
    * the `stopN` most frequent tokens corpus-wide (ties broken token-asc,
    * the [[vocab]] cut) become the stop list, and every document is
    * rewritten with those tokens removed, original order preserved.
    * Output: (doc_id, kept_tokens, text_pruned), one row per non-null-text
    * document — documents whose every token was pruned survive with
    * kept_tokens = 0 and an empty string (they are exactly the docs a
    * downstream quality floor should now drop).
    *
    * Shape at 100 TB: the stop list is a [[vocab]] aggregation cut to
    * `stopN` rows and BROADCAST as a FLAGGING left join onto the
    * exploded (pos, token) stream (not an anti-join — a doc whose every
    * token is a stop token must survive to its empty row, and
    * posexplode_outer keeps zero-token docs alive through a null
    * marker); collect_list skips the null entries, so the per-doc
    * reassembly is the operator's ONLY corpus exchange, on the doc key.
    * The order-preserving concat is array_sort over the collected
    * (pos, token) structs, bounded by the document length.
    */
  def pruneTopTokens(df: DataFrame, idCol: String, textCol: String,
                     stopN: Int = 10): DataFrame = {
    val docs = df.where(col(textCol).isNotNull)
    val stop = vocab(docs, textCol, minCount = 1, topN = stopN)
      .select(col("token"))
    docs
      .select(col(idCol).as("doc_id"),
        posexplode_outer(wsTokens(textCol))
          .as(Seq("pos", "w")))
      .join(broadcast(stop), col("w") === col("token"), "left")
      .groupBy(col("doc_id"))
      .agg(collect_list(
          when(col("w").isNotNull && col("token").isNull,
            struct(col("pos"), col("w")))).as("_ps"))
      .select(col("doc_id"),
        size(col("_ps")).cast("long").as("kept_tokens"),
        array_join(expr("transform(array_sort(_ps), s -> s.w)"), " ")
          .as("text_pruned"))
  }

  /** Content fingerprint: md5 of case-normalized text, plus an 8-hex-char
    * prefix usable as a cluster/shard key. Pure projection.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      md5(lower(col(textCol))).as("fp"),
      substring(md5(lower(col(textCol))), 1, 8).as("fp_prefix"))

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD
    * '03): hash every k-char-gram, slide a window of `t - k + 1` hashes,
    * keep the minimum of each window, dedup. Guarantees any match of
    * length ≥ t between two documents shares a selected fingerprint,
    * with ~2/(t-k+2) of the grams selected — the standard local-
    * similarity screen (plagiarism/near-dup detection) where whole-text
    * hashing (q36) only catches exact duplicates.
    *
    * One projection through the `WinnowFingerprints` expression (a
    * monotonic-deque pass — O(grams), no materialized hash arrays; the
    * HOF composition it replaced is pinned equivalent in
    * ExpressionPropertySpec); md5-hex min is engine-portable, so the
    * DuckDB oracle checks it hash-for-hash. Output: (doc_id, fp)
    * exploded — the shape an inverted fingerprint index wants.
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
             k: Int = 8, t: Int = 16): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.VectorFunctions.winnow(col(textCol), k, t)).as("fp"))

  /** PII patterns shared by the Spark operator and its DuckDB oracle twin.
    * Written in the common Java-regex ∩ RE2 dialect (character classes,
    * greedy counted quantifiers, `\b` — no backrefs, no lookaround) so
    * both engines match identically.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("\\+[0-9][0-9-]{6,}[0-9]", "<PHONE>"))

  /** The [[piiPatterns]] chain as a Column — the composable form the
    * curation/intake rung threads between normalization and the screens
    * ([[graft.ops.Curation.Config.redactPii]], [[graft.ops.Web.intake]]).
    * Codegen'd regexp_replace projections, zero shuffle; idempotent by
    * construction (no placeholder token matches any pattern), so
    * composing the rung at more than one pipeline position cannot
    * double-mangle.
    */
  def redactPiiCol(text: Column): Column =
    piiPatterns.foldLeft(text) {
      case (c, (re, token)) => regexp_replace(c, re, token)
    }

  /** PII redaction — the scrub-before-training step: emails, IPv4
    * addresses and +-prefixed phone numbers are replaced with typed
    * placeholder tokens. A chain of `regexp_replace` projections:
    * codegen'd, zero shuffle, order fixed (email → ip → phone) so the
    * result is deterministic and oracle-checkable. Null text passes
    * through as null.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      redactPiiCol(col(textCol)).as("redacted"))

  /** Repetition/shape quality signals (the Gopher-rule family): mean word
    * length, fraction of purely-numeric tokens, and the highest single-
    * token share of the document (boilerplate/spam repeats one token).
    * One `TokenStats` expression per row — a single token pass inside
    * whole-stage codegen. (The HOF composition this replaced —
    * aggregate/filter/sort_array chains — is interpreter-only in Spark
    * AND materialized the token array three times; round-4 v1's
    * sort+run-length fold was O(n log n) per row, this is O(n).)
    */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = graft.functions.VectorFunctions.tokenStats(col(textCol))
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), s.as("_s"))
      .select(col("doc_id"),
        round(col("_s.mean_word_len"), 4).as("mean_word_len"),
        round(col("_s.digit_frac"), 4).as("digit_frac"),
        round(col("_s.top_token_share"), 4).as("top_token_share"))
  }

  /** Gopher-style n-gram repetition signals: duplicate-2/3-gram fraction
    * ((total − distinct) / total) and top-2/3-gram share (max count /
    * total). Docs dominated by repeated phrases (boilerplate, templated
    * spam, degenerate generations) score high and get filtered before
    * training. Pure projection — the [[graft.functions.VectorFunctions
    * .ngramRep]] expression keeps each doc's gram counting row-local and
    * codegen'd, zero exchange at any corpus size (the explode-groupBy
    * form shuffles every gram occurrence twice). Docs with fewer than n
    * tokens have no n-grams: both fractions are 0 by convention.
    */
  /** Thresholds for [[gopherFilter]] — defaults are the published Gopher
    * rule values (Rae et al. 2021, §A1.1). Every bound is a parameter
    * because corpora legitimately retune them (the fixtures' short docs
    * need a lower `minWords`, a code corpus raises `maxSymbolWordRatio`).
    */
  case class GopherThresholds(
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopHits: Long = 2)

  /** The Gopher document-quality DECISION operator: the published rule
    * set evaluated per document, with the per-rule verdicts exposed —
    * an audit reads WHICH rule killed a document, not just that one did
    * (rule-kill counts are how the thresholds get retuned). Flags are
    * 0/1 ints and every ratio divides two integers from the one-pass
    * [[graft.functions.VectorFunctions.gopherStats]] expression, so the
    * whole operator is a zero-shuffle codegen'd projection that
    * hash-checks against a DuckDB twin. Flag semantics: 1 = the rule
    * PASSES; `keep` = every rule passed. Ratio rules on an empty
    * denominator fail (a document with no words has no quality
    * evidence); the line rules pass vacuously on a no-line document
    * (bullet/ellipsis shape needs lines to judge).
    */
  /** The rule arithmetic shared by [[gopherFilter]] and [[gopherKeep]]:
    * ratios and per-rule verdicts derived from ONE stats struct.
    */
  private case class GopherRules(
      hasWords: Column, hasLines: Column,
      meanLen: Column, symbolRatio: Column, alphaFrac: Column,
      bulletFrac: Column, ellipsisFrac: Column,
      fWords: Column, fLen: Column, fSymbol: Column, fBullet: Column,
      fEllipsis: Column, fAlpha: Column, fStop: Column) {
    def keep: Column =
      fWords && fLen && fSymbol && fBullet && fEllipsis && fAlpha && fStop
  }

  private def gopherRules(g: Column, th: GopherThresholds): GopherRules = {
    def f(name: String) = g.getField(name)
    val meanLen = f("word_len_sum").cast("double") / f("n_words")
    val symbolRatio =
      (f("n_hash") + f("n_ellipsis_marks")).cast("double") / f("n_words")
    val alphaFrac = f("n_alpha_words").cast("double") / f("n_words")
    val bulletFrac = f("n_bullet_lines").cast("double") / f("n_lines")
    val ellipsisFrac = f("n_ellipsis_lines").cast("double") / f("n_lines")
    val hasWords = f("n_words") > 0
    val hasLines = f("n_lines") > 0
    GopherRules(hasWords, hasLines, meanLen, symbolRatio, alphaFrac,
      bulletFrac, ellipsisFrac,
      fWords = f("n_words") >= th.minWords && f("n_words") <= th.maxWords,
      fLen = hasWords && meanLen >= th.minMeanWordLen &&
        meanLen <= th.maxMeanWordLen,
      fSymbol = hasWords && symbolRatio <= th.maxSymbolWordRatio,
      fBullet = !hasLines || bulletFrac <= th.maxBulletLineFrac,
      fEllipsis = !hasLines || ellipsisFrac <= th.maxEllipsisLineFrac,
      fAlpha = hasWords && alphaFrac >= th.minAlphaWordFrac,
      fStop = f("n_stop_hits") >= th.minStopHits)
  }

  /** The keep DECISION alone, as a filter Column — for pipelines that
    * gate on the rules without materializing the audit columns
    * ([[graft.ops.Web.intake]], the `gopher` task's `keep_only`). ONE
    * fused expression: as a FILTER predicate the composed spelling has
    * no subexpression elimination, so each of its ~14 struct-field
    * reads re-evaluated the whole stats pass — and everything predicate
    * pushdown inlined under it (19 htmlToText evaluations per row in
    * the q148 gate). [[gopherKeepComposed]] keeps the rules spelling as
    * the spec equivalence oracle.
    */
  def gopherKeep(text: Column,
                 th: GopherThresholds = GopherThresholds()): Column =
    graft.functions.VectorFunctions.gopherKeep(text, th.minWords,
      th.maxWords, th.minMeanWordLen, th.maxMeanWordLen,
      th.maxSymbolWordRatio, th.maxBulletLineFrac, th.maxEllipsisLineFrac,
      th.minAlphaWordFrac, th.minStopHits)

  /** The rules-derived spelling of [[gopherKeep]] — evaluates the same
    * arithmetic through [[gopherRules]]; fine in a projection (subexpr
    * elimination), pathological as a filter.
    */
  def gopherKeepComposed(text: Column,
                         th: GopherThresholds = GopherThresholds()): Column =
    gopherRules(graft.functions.VectorFunctions.gopherStats(text), th).keep

  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   th: GopherThresholds = GopherThresholds()): DataFrame = {
    val s = graft.functions.VectorFunctions.gopherStats(col(textCol))
    // counts are BIGINT in both engines (repo oracle convention) —
    // flags follow so the driver's canonicalizer sees one int width
    def flag(c: Column) = c.cast("long")
    val r = gopherRules(col("_g"), th)
    def g(name: String) = col("_g").getField(name)
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), s.as("_g"))
      .select(col("doc_id"),
        g("n_words").as("n_words"),
        round(when(r.hasWords, r.meanLen).otherwise(0.0), 4)
          .as("mean_word_len"),
        round(when(r.hasWords, r.symbolRatio).otherwise(0.0), 4)
          .as("symbol_word_ratio"),
        round(when(r.hasLines, r.bulletFrac).otherwise(0.0), 4)
          .as("bullet_line_frac"),
        round(when(r.hasLines, r.ellipsisFrac).otherwise(0.0), 4)
          .as("ellipsis_line_frac"),
        round(when(r.hasWords, r.alphaFrac).otherwise(0.0), 4)
          .as("alpha_word_frac"),
        g("n_stop_hits").as("stop_hits"),
        flag(r.fWords).as("f_words"), flag(r.fLen).as("f_word_len"),
        flag(r.fSymbol).as("f_symbol"), flag(r.fBullet).as("f_bullet"),
        flag(r.fEllipsis).as("f_ellipsis"), flag(r.fAlpha).as("f_alpha"),
        flag(r.fStop).as("f_stop"),
        flag(r.keep).as("keep"))
  }

  /** The rule-kill REPORT — [[gopherFilter]]'s verdicts rolled up per
    * source: how many documents each rule kills, and the keep count,
    * per corpus slice. This is how thresholds get retuned (a rule
    * killing 90% of one domain is a miscalibration signal, not ninety
    * percent bad documents) — the quality-rule member of the card
    * family (data/embedding/drift/retention). One map-side-combined
    * aggregation on the bounded source key over the same one-pass
    * stats expression; zero joins, zero extra text scans.
    */
  def gopherReport(df: DataFrame, textCol: String, sourceCol: String,
                   th: GopherThresholds = GopherThresholds()): DataFrame = {
    val s = graft.functions.VectorFunctions.gopherStats(col(textCol))
    val r = gopherRules(col("_g"), th)
    def flag(c: Column) = c.cast("long")
    df.where(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), s.as("_g"))
      .select(col("source"),
        flag(r.fWords).as("_fw"), flag(r.fLen).as("_fl"),
        flag(r.fSymbol).as("_fs"), flag(r.fBullet).as("_fb"),
        flag(r.fEllipsis).as("_fe"), flag(r.fAlpha).as("_fa"),
        flag(r.fStop).as("_fst"), flag(r.keep).as("_fk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("_fw")).as("kill_words"),
        sum(lit(1L) - col("_fl")).as("kill_word_len"),
        sum(lit(1L) - col("_fs")).as("kill_symbol"),
        sum(lit(1L) - col("_fb")).as("kill_bullet"),
        sum(lit(1L) - col("_fe")).as("kill_ellipsis"),
        sum(lit(1L) - col("_fa")).as("kill_alpha"),
        sum(lit(1L) - col("_fst")).as("kill_stop"),
        sum(col("_fk")).as("n_keep"))
  }

  /** Paragraph segmentation — the boundary-aware counterpart to
    * [[graft.ops.Packing.chunkDocs]]'s fixed token windows: documents
    * split at blank lines (`\n{2,}` — the universal paragraph
    * convention in extracted web text, see [[graft.ops.Web.htmlToText]]
    * which emits single `\n` INSIDE a block flow), each paragraph
    * trimmed of edge whitespace, empties dropped, indexed densely in
    * document order. The unit feeder for paragraph-granular dedup,
    * embedding, and RAG chunking — token windows cut mid-thought;
    * paragraphs are where authors put the seams.
    *
    * Output: (doc_id, para_idx, para, n_chars). Pure map-side
    * projection + generator (split/transform/filter/posexplode — all
    * codegen-capable generators, no UDF, no shuffle).
    */
  /** The paragraph ARRAY of a text column — [[segmentParagraphs]]'s
    * unit rule as a reusable Column (blank-line split, edge-trim, drop
    * empties), shared with [[graft.ops.Dedup.removeFrequentParagraphs]]
    * so the explode side and the row-local count can never disagree.
    * ONE codegen'd expression: the [[paragraphsColComposed]] HOF
    * spelling is CodegenFallback (transform/filter lambdas), which
    * drops the whole enclosing stage out of codegen; spec-pinned
    * equivalent.
    */
  def paragraphsCol(text: Column): Column =
    graft.functions.VectorFunctions.paragraphs(text)

  /** The built-in-operator spelling of [[paragraphsCol]] — the
    * equivalence oracle for the fused expression, and the exact shape
    * the DuckDB twin's list pipeline runs.
    */
  def paragraphsColComposed(text: Column): Column =
    filter(
      transform(split(text, "\\n{2,}"),
        x => regexp_replace(regexp_replace(x,
          "^[ \\t\\n\\r]+", ""), "[ \\t\\n\\r]+$", "")),
      x => length(x) > 0)

  def segmentParagraphs(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(paragraphsCol(col(textCol))).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        col("para"), length(col("para")).cast("long").as("n_chars"))

  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def fracs(r: String, tag: String): Seq[Column] = Seq(
      when(col(s"$r.total") > 0,
        round((col(s"$r.total") - col(s"$r.n_distinct")) / col(s"$r.total"), 4))
        .otherwise(0.0).as(s"dup_${tag}_frac"),
      when(col(s"$r.total") > 0,
        round(col(s"$r.max_count") / col(s"$r.total"), 4))
        .otherwise(0.0).as(s"top_${tag}_share"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.VectorFunctions.ngramRep(col(textCol), 2).as("_r2"),
        graft.functions.VectorFunctions.ngramRep(col(textCol), 3).as("_r3"))
      .select(col("doc_id") +: (fracs("_r2", "2gram") ++
        fracs("_r3", "3gram")): _*)
  }
}
