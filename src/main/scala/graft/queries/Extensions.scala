package graft.queries

import graft.Tables
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline extension queries (q27+): dedup family,
  * similarity search, text analysis, multimodal plumbing, sessionization.
  * Built on the graft.ops library; oracle twins (where SQL-expressible)
  * live in [[graft.SparkEntry.oracleSql]].
  */
object Extensions {

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Canonical form for DECLARED queries whose payload is an id array
    * (`array<int>` token sequences, top-id lists): each named column is
    * serialized to a space-joined string so the driver's pandas-based
    * canonicalizer can sort/hash the cells (it cannot order ndarray
    * cells). Element order inside the string is whatever the producing
    * op pinned — nothing is lost; the programmatic APIs keep raw
    * arrays. Empty arrays serialize to '' (the oracle side mirrors with
    * COALESCE(ARRAY_TO_STRING(...), '')).
    */
  private def serializeIdArrays(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        array_join(transform(col(c), _.cast("string")), " "))
    }

  // q27 exact dedup with representative + multiplicity.
  val q27_dedup_exact: Q = (s, d) =>
    Dedup.exact(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q28 MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join→verify).
  val q28_dedup_minhash_lsh: Q = (s, d) =>
    Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        w = 3, k = 8, bands = 4, threshold = 0.5)
      .orderBy(col("d1"), col("d2"))

  // q65 cross-source contamination matrix: q28's near-dup pairs rolled up
  // to (source, source) cells — where duplication lives, the audit that
  // catches two dumps crawling the same sites before mixture weights
  // double-count them.
  val q65_contamination_matrix: Q = (s, d) =>
    Dedup.contaminationMatrix(t(s, d, "documents"), "doc_id", "text",
        "source", w = 3, k = 8, bands = 4, threshold = 0.5)
      .orderBy(col("src_a"), col("src_b"))

  // q29 SimHash fingerprints with duplicate-cluster size.
  val q29_dedup_simhash: Q = (s, d) =>
    Dedup.simHash(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q30 exact n-gram Jaccard pairs (the LSH verifier as an operator).
  val q30_dedup_ngram_jaccard: Q = (s, d) =>
    Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
        w = 3, threshold = 0.3)
      .orderBy(col("d1"), col("d2"))

  // q31 embedding-cosine near-dup: top-20 candidate pairs from 8 banded
  // LSH families (4 sign bits each), ranked by exact cosine. Every join is
  // an equi-join on the bucket key (no BroadcastNestedLoopJoin); the
  // oracle mirrors the deterministic md5-derived planes, so the result is
  // exactly hash-checkable. Similarity.topPairs remains the O(n²)
  // exactness anchor, exercised in OpsSpec.
  val q31_neardup_embedding: Q = (s, d) =>
    Similarity.nearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 20, bands = 8, bitsPerBand = 4)
      .orderBy(col("cos_sim").desc, col("d1"), col("d2"))

  // q32 ANN top-k via random-hyperplane LSH buckets (approx → no oracle;
  // rows-only check). The scale path behind q25's brute-force anchor:
  // 6 sign bits = 64 buckets, multi-probed to the 7 hamming-≤1 buckets,
  // so ~11% of the corpus is scanned regardless of corpus size.
  val q32_ann_lsh: Q = (s, d) =>
    Similarity.annTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, queryId = 0L, k = 10, nBits = 6)
      .orderBy(col("vec_id"))

  // q33 language ID (stopword heuristic).
  // q39 ANN top-k via IVF (seed-centroid coarse quantizer, nProbe=3 of 16
  // cells; approx → no oracle; rows-only check). The second scale path
  // beside q32's LSH: scan ∝ nProbe/nCells, zero shuffle.
  val q39_ann_ivf: Q = (s, d) =>
    Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, nCells = 16, nProbe = 3)
      .orderBy(col("vec_id"))

  // q41 near-dup clustering: q28's pairs closed into connected components
  // (min-label propagation ⇔ the oracle's recursive-CTE closure) — the
  // step that turns pairwise matches into keep/drop decisions.
  val q41_dedup_clusters: Q = (s, d) => {
    val pairs = Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
      w = 3, k = 8, bands = 4, threshold = 0.5)
    Dedup.components(pairs.select(col("d1"), col("d2")))
      .orderBy(col("doc_id"))
  }

  // q42 near-dup clustering via large-star/small-star contraction — the
  // same pairs and the SAME recursive-CTE oracle as q41, so the
  // diameter-independent formulation is hash-checked against DuckDB's
  // transitive closure directly (not just against components()).
  val q42_dedup_clusters_star: Q = (s, d) => {
    val pairs = Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
      w = 3, k = 8, bands = 4, threshold = 0.5)
    Dedup.componentsStar(pairs.select(col("d1"), col("d2")))
      .orderBy(col("doc_id"))
  }

  // q43 the SQL surface end-to-end: the query text is pushed through
  // spark.sql with the registered graft_* extension functions — the
  // reference's primary interface (source SQL on the internal catalog),
  // proven against a DuckDB twin of both expressions.
  val q43_sql_surface: Q = (s, d) => {
    graft.functions.VectorFunctions.registerSql(s)
    t(s, d, "documents").createOrReplaceTempView("documents_sqlv")
    s.sql(
      """SELECT doc_id, graft_simhash(text, 16) AS simhash,
        |       CAST(size(graft_word_shingles(text, 3)) AS BIGINT) AS n_shingles
        |FROM documents_sqlv WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin)
  }

  // q44 benchmark decontamination: docs sharing any 3-gram shingle with
  // the held-out "benchmark" slice (doc_id ≡ 0 mod 20 stands in for an
  // eval suite) are flagged with their overlap size.
  val q44_decontaminate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Dedup.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", w = 3)
      .orderBy(col("doc_id"))
  }

  // q45 PII redaction: deterministic synthetic PII (email/phone/IP derived
  // from doc_id, identically in the oracle) appended to each doc, then
  // scrubbed by the shared pattern chain — so the redaction machinery is
  // exercised on real matches and stays hash-checkable.
  val q45_pii_redact: Q = (s, d) => {
    val withPii = t(s, d, "documents").where(col("text").isNotNull)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com at +1-555-0"),
          col("doc_id"), lit(" ip 10.0.0."), col("doc_id") % 256).as("text"))
    TextAnalysis.redactPii(withPii, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  // q46 repetition/shape quality signals (Gopher-rule family): mean word
  // length, numeric-token fraction, top single-token share.
  val q46_quality_signals: Q = (s, d) =>
    TextAnalysis.qualitySignals(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q47 deterministic train/val/test split: md5-threshold assignment —
  // stable across runs, partitionings and engines, so held-out sets
  // survive pipeline re-runs and corpus growth.
  val q47_train_split: Q = (s, d) =>
    Sampling.splitLabel(t(s, d, "documents").select(col("doc_id")), "doc_id")
      .orderBy(col("doc_id"))

  // q48 mixture sampling: the per-source keep fractions a training recipe
  // declares (shared with the oracle so both engines evaluate the same
  // literal thresholds). Five mixture tiers cycling over the 20 sources.
  val mixtureWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" ->
      Seq(1.0, 0.5, 0.25, 0.1, 0.05)(i % 5)).toMap

  val q48_mixture_sample: Q = (s, d) =>
    Sampling.stratifiedSample(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", mixtureWeights)
      .orderBy(col("doc_id"))

  // q58 token-budget mixture sampling: per-source TOKEN allocations (the
  // form a training recipe is actually written in) resolved against the
  // observed per-source token totals into keep fractions, then the same
  // deterministic md5-threshold filter as q48. Budgets are config
  // (shared with the oracle); fractions/thresholds are DATA-dependent —
  // the oracle recomputes them in SQL, mirroring hexThreshold's
  // truncate-clamp-format arithmetic exactly. Ascending budgets over the
  // 20 sources exercise both the sampled (<1) and whole-stratum ('g')
  // threshold branches.
  val tokenBudgets: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> 120L * (i + 1)).toMap

  // q66 epochs recipe: fixed per-source mixture weights, including
  // with-replacement strata (>1 = whole epochs + an md5-coin fractional
  // epoch). Fixed fractions keep the query sf-independent; the oracle
  // inlines the identical floor/threshold literals.
  val upsampleFracs: Map[String, Double] =
    Map("src0" -> 2.3, "src1" -> 0.4, "src2" -> 1.0)

  val q66_upsample_epochs: Q = (s, d) =>
    Sampling.upsample(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", upsampleFracs)
      .orderBy(col("doc_id"), col("copy"))

  // The mixture RECIPE (q133/q134): weights in the form a training mix
  // is written ("50% src0, 30% src1, 15% src2, 5% srcX"), against a
  // fixed total char budget. srcX is deliberately absent from the
  // corpus — the plan must surface it (0 available, null frac), not
  // swallow it.
  val mixtureRecipe: Map[String, Double] =
    Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.15, "srcX" -> 0.05)
  val mixtureBudget: Long = 30000L

  // q133 mixture plan — the audit table the recipe is reviewed from:
  // per stratum its normalized weight, available vs target tokens, the
  // realizing frac (capped at 1 here) and the epochs ratio (>1 for
  // src0: the recipe NEEDS repetition there).
  val q133_mixture_plan: Q = (s, d) =>
    Sampling.mixturePlan(
        t(s, d, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars", mixtureRecipe, mixtureBudget)
      .orderBy(col("source"))

  // q135 distribution drift — the PSI audit between the corpus and its
  // length-filtered survivors, bucketed by language: "did the length
  // cut shift my language mix" as a per-bucket stability table whose
  // psi column sums to the total index.
  val q135_distribution_drift: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Analytics.distributionDrift(docs, docs.where(col("n_chars") >= 300),
        "lang")
      .orderBy(col("lang"))
  }

  // q136 corpus diff — the extensional snapshot comparison: cur is a
  // deterministic mutation of the corpus (every 7th doc removed, every
  // 5th survivor's text edited, every 11th doc re-added under a new id)
  // and every doc lands in exactly one of added/removed/changed/
  // unchanged.
  val q136_corpus_diff: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val cur = docs.where(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Analytics.corpusDiff(docs, cur, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  // q138 numeric drift — q135's PSI statement over a NUMERIC column:
  // n_chars banded by the fixed-cut rule (10 equal bands over [0,1000),
  // nulls to band -1), full corpus vs its English slice — "did
  // restricting to English shift the length distribution".
  val q138_numeric_drift: Q = (s, d) => {
    val docs = t(s, d, "documents")
    def banded(df: org.apache.spark.sql.DataFrame) = df.select(
      Analytics.fixedBand(col("n_chars"), 0.0, 1000.0, 10).as("band"))
    Analytics.distributionDrift(banded(docs),
        banded(docs.where(col("lang") === "en")), "band")
      .orderBy(col("band"))
  }

  // q139 lexical-dedup recall surface — the q102 discipline for the
  // MinHash-LSH family: exact-Jaccard truth pairs (the q30 op at a wide
  // threshold) banded by similarity, each band scored for how many
  // pairs the q28 candidate screen (k=8, bands=4 — the shipped
  // defaults) surfaced. The measured S-curve a user tunes bands/k
  // against, instead of trusting 1-(1-j^r)^b on faith.
  val q139_dedup_recall: Q = (s, d) => {
    // the deterministic planted ladder (Dedup.plantRecallLadder): twins
    // spanning jaccard ≈ 0.2…0.95 so the audit hashes a full S-curve —
    // the natural corpus's near-dups collapse into one band, which
    // checks a single aggregate row instead of the curve
    val corpus = Dedup.plantRecallLadder(t(s, d, "documents"))
    // ONE shingle pass feeds both the truth side and the signature
    // chain (the minHashLsh reuse discipline)
    val sets = Dedup.shingleSets(corpus, "doc_id", "text", 3)
      .repartition(col("doc_id"))
    val truth = Dedup.ngramJaccardFromSets(sets, threshold = 0.2)
    val cand = Dedup.lshCandidates(
      Dedup.minHashSignatures(sets, 8), k = 8, bands = 4)
    Dedup.dedupRecall(truth, cand).orderBy(col("band"))
  }

  // q140 dedup screen operating point — the one-row precision/recall
  // summary over the same truth/candidate sets: recall = truth pairs
  // the screen surfaced, precision = candidates worth their verify
  // cost. The two numbers a banding change actually trades.
  val q140_dedup_screen: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .repartition(col("doc_id"))
    val truth = Dedup.ngramJaccardFromSets(sets, threshold = 0.2)
    val cand = Dedup.lshCandidates(
      Dedup.minHashSignatures(sets, 8), k = 8, bands = 4)
    Dedup.dedupScreenSummary(truth, cand)
  }

  // q142 containment recall — the q139 audit pointed at the screen's
  // KNOWN blind spot: containment truth (q77's short-in-long signal,
  // max(c12, c21) ≥ 0.5) banded by the containment value, scored for
  // what the minhash screen surfaced. Minhash estimates JACCARD, and a
  // short doc quoted inside a long one has containment 1 at jaccard
  // ≈ n1/n2 — the low bands here are expected to read near zero, which
  // is the measured case for routing such pairs to the gram-excision
  // path instead of the pair screen.
  val q142_containment_recall: Q = (s, d) => {
    // same planted ladder as q139: twin max-containment spans ≈0.5…1.0,
    // so the blind-spot audit hashes ≥5 containment bands
    val corpus = Dedup.plantRecallLadder(t(s, d, "documents"))
    val sets = Dedup.shingleSets(corpus, "doc_id", "text", 3)
      .repartition(col("doc_id"))
    val truth = Dedup.containmentFromSets(sets, threshold = 0.5)
      .select(col("d1"), col("d2"),
        greatest(col("c12"), col("c21")).as("containment"))
    val cand = Dedup.lshCandidates(
      Dedup.minHashSignatures(sets, 8), k = 8, bands = 4)
    Dedup.dedupRecall(truth, cand, scoreCol = "containment")
      .orderBy(col("band"))
  }

  // q141 exact token-budget prefix — the deterministic greedy twin of
  // q58's expectation sampler and the batch semantics the streaming
  // token-budget gate replays per micro-batch: per source, md5-ranked
  // rows admit while the running ws-token total stays within the q58
  // budgets; the overflowing row stops the stratum.
  val q141_token_budget_prefix: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Sampling.tokenBudgetPrefix(
        docs.select(col("doc_id"), col("source"),
          coalesce(graft.functions.VectorFunctions
              .tokenCountsStruct(col("text")).getField("ws_tokens"),
            lit(0L)).as("n_tok")),
        "doc_id", "source", "n_tok", tokenBudgets)
      .orderBy(col("doc_id"))
  }

  // q134 mixture sample — the recipe REALIZED with replacement: fracs
  // derived from the same plan (uncapped), epochs > 1 strata duplicated
  // with a copy index via the q66 upsample convention; sources outside
  // the recipe drop.
  val q134_mixture_sample: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val fracs = Sampling.mixtureFracs(
      docs.select(col("source"), col("n_chars")),
      "source", "n_chars", mixtureRecipe, mixtureBudget,
      allowReplacement = true)
    Sampling.upsample(docs.select(col("doc_id"), col("source")),
        "doc_id", "source", fracs)
      .orderBy(col("doc_id"), col("copy"))
  }

  val q58_token_budget_sample: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val toks = docs.select(col("source"),
      graft.functions.VectorFunctions.tokenCountsStruct(col("text"))
        .getField("ws_tokens").as("n_tok"))
    val fracs = Sampling.tokenBudgetFracs(toks, "source", "n_tok", tokenBudgets)
    Sampling.stratifiedSample(
        docs.select(col("doc_id"), col("source")),
        "doc_id", "source", fracs)
      .orderBy(col("doc_id"))
  }

  // q58b/q52b: the tokenizer-SPI twins — the SAME budget operators with
  // the pinned greedy-BPE counter (graft.functions.TokenCounters.tinyBpe)
  // swapped in for the whitespace default. Whitespace fields undercount a
  // real subword vocabulary's budget; the SPI makes the counting rule a
  // parameter, and the pinned table keeps both twins hash-checkable
  // against a recursive-CTE oracle that applies the identical
  // leftmost-lowest-rank merge rule.
  val q58b_token_budget_bpe: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val toks = docs.select(col("source"),
      graft.functions.TokenCounters.count(
        graft.functions.TokenCounters.tinyBpe, col("text")).as("n_tok"))
    val fracs = Sampling.tokenBudgetFracs(toks, "source", "n_tok", tokenBudgets)
    Sampling.stratifiedSample(
        docs.select(col("doc_id"), col("source")),
        "doc_id", "source", fracs)
      .orderBy(col("doc_id"))
  }

  val q52b_pack_bpe: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.TokenCounters.count(
          graft.functions.TokenCounters.tinyBpe, col("text")).as("n_tokens"))
    Packing.pack(docs, "doc_id", "n_tokens", "source", seqLen = 512)
      .orderBy(col("doc_id"))
  }

  // q143 URL/domain canonicalization (ops/Web): the per-domain key
  // feeder for capPerKey/splitByGroup/contamination pipelines. The
  // fixtures carry no URL column, so the query synthesizes messy crawl
  // URLs deterministically from doc_id (mixed-case schemes and hosts,
  // userinfo, ports, queries, fragments, multi-label and shared-hosting
  // suffixes) — mirrored literally in the oracle — and checks the full
  // canonical projection: canon_url, host, registered domain.
  /** The q143/q150 messy-URL synthesis — deterministic per doc_id,
    * mirrored field-for-field in the generated oracles.
    */
  def syntheticUrl(id: Column): Column = concat(
      when(id % 4 === 0, "HTTP").when(id % 4 === 1, "https")
        .when(id % 4 === 2, "Https").otherwise("http"),
      lit("://"),
      when(id % 5 === 0, "User:Pw@").otherwise(""),
      when(id % 3 === 0, "WWW.News").when(id % 3 === 1, "Blog")
        .otherwise("sub.Shop"),
      lit(".site"), (id % 7).cast("string"),
      when(id % 6 === 0, ".co.uk").when(id % 6 === 1, ".com")
        .when(id % 6 === 2, ".github.io").when(id % 6 === 3, ".org")
        .when(id % 6 === 4, ".com.au").otherwise(".io"),
      when(id % 2 === 0, ":8080").otherwise(""),
      lit("/Path/"), (id % 9).cast("string"),
      when(id % 3 === 0, concat(lit("?q=x&id="), id.cast("string")))
        .otherwise(""),
      when(id % 4 === 1, "#Frag").otherwise(""))

  val q143_url_canonicalize: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val url = syntheticUrl(col("doc_id"))
    Web.withUrlKeys(docs.select(col("doc_id"), url.as("url")), "url")
      .orderBy(col("doc_id"))
  }

  // q150 domain-blocklist exclusion (Web.filterBlockedDomains): the
  // crawl-policy gate keyed on the q143 registered-domain cut —
  // subdomains of a blocked domain go with it; the bounded list rides
  // as the broadcast anti side.
  val blockedDomainsQ150: Seq[String] =
    Seq("site0.co.uk", "site3.com", "site2.github.io", "site5.io")
  val q150_domain_blocklist: Q = (s, d) => {
    import s.implicits._
    val docs = t(s, d, "documents")
    val blocked = blockedDomainsQ150.toDF("domain")
    Web.filterBlockedDomains(
        docs.select(col("doc_id"), syntheticUrl(col("doc_id")).as("url")),
        "url", blocked)
      .select(col("doc_id"), Web.urlDomain(col("url")).as("domain"))
      .orderBy(col("doc_id"))
  }

  // q144 canonical text normalization (TextAnalysis.normalizeText): the
  // pre-hashing cleanup projection — NFC composition (custom codegen'd
  // expression), lowercase, control strip, whitespace collapse, trim.
  // The fixtures are clean ASCII, so the query plants the mess it
  // normalizes: combining sequences (e+U+0301, A+U+0300), tabs, a C0
  // control byte, double spaces — mirrored chr-for-chr in the oracle.
  val q144_normalize_text: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val messy = concat(col("text"),
      lit(" e"), lit("\u0301"), lit(" A"), lit("\u0300"),
      lit("\t\t x "), lit("\u0001"), lit("y  z "))
    docs.select(col("doc_id"),
        TextAnalysis.normalizeText(messy, lowercase = true).as("norm_text"))
      .orderBy(col("doc_id"))
  }

  // q145 HTML → text extraction (Web.htmlToText): the crawl-intake
  // projection that turns markup into the rendered text every text
  // operator consumes. The fixtures are plain text, so the query wraps
  // each document in a planted page exercising every rule class —
  // script/style/comment subtrees (with bare `<` and a decoy `</p>`
  // inside the script), block tags → newlines, table cells → spaces,
  // inline tags → nothing, the entity ladder (`&amp;amp;` must come out
  // `&amp;`, `&lt;b&gt;` must SURVIVE as literal "<b>", numeric + hex +
  // named decodes, invalid/unknown/overflow entities survive literally),
  // whitespace canonicalization. The oracle SQL is GENERATED from the
  // same Web.htmlStripRules/htmlWhitespaceRules/htmlNamedEntities
  // constants (SparkEntry.htmlToTextSql), so both engines run the same
  // pattern text by construction.
  val q145_html_to_text: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val html = concat(
      lit("<html ><head><script type=\"text/JavaScript\">var x=1; " +
        "if (x<2) { s=\"</p>ignored\"; }</script>"),
      lit("<style media=\"all\">p { color: red; }</style></head>"),
      lit("<body><!-- hidden <p>comment</p> --><h1 class=\"t\">Title "),
      col("doc_id").cast("string"),
      lit("</h1>\n<p>"), col("text"),
      lit(" &amp;amp; caf&#39;e &quot;q&quot;&nbsp;x &lt;b&gt;kept&gt;" +
        " caf&eacute; r&#8217;s h&#x2019; A&mdash;B e&hellip; w&#151;d q&#x92;t" +
        " &bogus; &#1114112; &#xD800; 5&#60;6 &#x; &&amp;</p>"),
      lit("<ul><li> alpha</li><li>beta </li></ul>"),
      lit("<table><tr><td>c1</td><td>c2</td></tr></table>"),
      lit("<p>tail <b>bold</b>, <I>ital</I> &amp; done</p></body></html>"))
    Web.extractHtml(docs.select(col("doc_id"), html.as("html")),
        "doc_id", "html")
      .orderBy(col("doc_id"))
  }

  // q146 Gopher-rule quality filter (TextAnalysis.gopherFilter): the
  // published decision rules with per-rule verdicts. The plant appends
  // bullet/ellipsis/symbol lines so every line-shape rule has evidence;
  // thresholds (shared with the generated oracle via
  // gopherQueryThresholds) sit inside the fixture distributions so each
  // flag varies across documents instead of hash-checking a constant.
  val gopherQueryThresholds: TextAnalysis.GopherThresholds =
    TextAnalysis.GopherThresholds(minWords = 30, maxMeanWordLen = 4.2,
      maxSymbolWordRatio = 0.08, maxEllipsisLineFrac = 0.4,
      minStopHits = 1)
  val gopherQueryPlant: String =
    "\nSome trailing line...\n- bullet one\n* bullet two\n# t # …\nplain end"
  val q146_gopher_filter: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    TextAnalysis.gopherFilter(
        docs.select(col("doc_id"),
          concat(col("text"), lit(gopherQueryPlant)).as("text")),
        "doc_id", "text", gopherQueryThresholds)
      .orderBy(col("doc_id"))
  }

  // q147 leakage-free split (Sampling.leakFreeSplit): the group-keyed
  // coin plus the built-in contamination screen — train docs sharing
  // ≥2 distinct 4-gram shingles with the held-out side relabel to
  // 'dropped' (eval membership never changes). w=4/minHits=2 sits in
  // the fixture overlap distribution so the drop set is small but
  // non-empty at every SF.
  val q147_leak_free_split: Q = (s, d) =>
    Sampling.leakFreeSplit(
        t(s, d, "documents").select(col("doc_id"), col("text"),
          col("source")),
        "doc_id", "text", "source", w = 4, minHits = 2)
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  // q148 web-corpus intake (Web.intake): the composed markup→training-
  // text chain — html extraction, Gopher keep gate, canonical
  // normalization, exact dedup on the normalized text. Every 11th doc
  // swaps its body for a fixed page so the dedup stage has real mass to
  // collapse; the oracle composes the stages' own generated fragments.
  val webIntakeThresholds: TextAnalysis.GopherThresholds =
    TextAnalysis.GopherThresholds(minWords = 30)
  val webIntakeFixedText: String =
    "the quick brown fox jumped over the lazy dog and ran with a steady " +
      "pace to be first among all runners that day have come and gone " +
      "since then"
  /** The q148 planted crawl pages (doc_id, html) — shared with the
    * q155 composition.
    */
  private def webIntakePages(docs: DataFrame): DataFrame = {
    val body = when(col("doc_id") % 11 === 0, lit(webIntakeFixedText))
      .otherwise(col("text"))
    val html = concat(lit("<html><body><h1>Hdr</h1><p>"), body,
      lit("</p><ul><li>alpha&nbsp;caf&eacute;</li>" +
        "<li>beta&#8212;&#x2014;end</li></ul></body></html>"))
    docs.select(col("doc_id"), html.as("html"))
  }

  val q148_web_intake: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    Web.intake(webIntakePages(docs), "doc_id", "html", webIntakeThresholds)
      .orderBy(col("doc_id"))
  }

  // q155 the full crawl→training-text path as ONE declared surface:
  // the q148 intake (markup → gated, normalized, deduped text) feeding
  // the q93 curation stages — source rejoined from the representative's
  // doc_id, curate's None/None spelling (a first ingest: no standing
  // corpus to dedup against, no benchmark to decontaminate against),
  // the q93 budgets. The oracle composes the stages' own generated
  // fragments end to end.
  val q155_intake_curation: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val taken = Web.intake(webIntakePages(docs), "doc_id", "html",
      webIntakeThresholds)
    val withSource = taken
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    Curation.curate(s, withSource, "doc_id", "norm_text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = tokenBudgets))
      .orderBy(col("doc_id"))
  }

  // q161 the PII-REDACTING curation composition: the q148 intake pages
  // with synthetic PII planted into every body (the q45 construction —
  // a doc_id-derived email, phone and IPv4 per page), fed through the
  // q93 stages with Config.redactPii on. The rung sits between intake's
  // normalization and the curation screens, so (a) every downstream
  // stage sees only placeholder tokens, and (b) the %11 pages — whose
  // bodies are identical EXCEPT for their per-doc PII — collapse at the
  // exact screen the way true duplicates should. The oracle conjoins
  // the q148 CTEs, the q45 regex chain and the q93 fragments.
  private def webIntakePagesPii(docs: DataFrame): DataFrame = {
    val body = when(col("doc_id") % 11 === 0, lit(webIntakeFixedText))
      .otherwise(col("text"))
    val pii = concat(lit(" contact user"), col("doc_id"),
      lit("@example.com at +1-555-0"), col("doc_id"),
      lit(" ip 10.0.0."), col("doc_id") % 256)
    val html = concat(lit("<html><body><h1>Hdr</h1><p>"), body, pii,
      lit("</p><ul><li>alpha&nbsp;caf&eacute;</li>" +
        "<li>beta&#8212;&#x2014;end</li></ul></body></html>"))
    docs.select(col("doc_id"), html.as("html"))
  }

  val q161_redacted_curation: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val taken = Web.intake(webIntakePagesPii(docs), "doc_id", "html",
      webIntakeThresholds)
    val withSource = taken
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    Curation.curate(s, withSource, "doc_id", "norm_text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = tokenBudgets, redactPii = true))
      .orderBy(col("doc_id"))
  }

  // q164 PER-LANGUAGE curation routing: the q148 intake feeding the
  // q93 stages with the stratum DERIVED — the q33 language decision
  // over each page's normalized text — instead of joined provenance.
  // Budgets key by language code; languages outside the recipe drop
  // (the not-in-the-recipe rule, exercised here: only en/und carry
  // budgets). The oracle conjoins the q148 CTEs, the q33 stopword
  // arithmetic and the q93 fragments with source := language.
  val languageBudgets: Map[String, Long] =
    Map("en" -> 3000L, "und" -> 1500L)

  val q164_language_curation: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val taken = Web.intake(webIntakePages(docs), "doc_id", "html",
      webIntakeThresholds)
    Curation.curateByLanguage(s, taken, "doc_id", "norm_text",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = languageBudgets))
      .orderBy(col("doc_id"))
  }

  // q149 per-source rule-kill report (TextAnalysis.gopherReport): the
  // q146 verdicts rolled up per source — the threshold-retuning card.
  // Same plant and thresholds as q146, so the two queries pin the same
  // arithmetic at two granularities.
  val q149_gopher_report: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    TextAnalysis.gopherReport(
        docs.select(col("source"),
          concat(col("text"), lit(gopherQueryPlant)).as("text")),
        "text", "source", gopherQueryThresholds)
      .orderBy(col("source"))
  }

  // q151 paragraph segmentation (TextAnalysis.segmentParagraphs): the
  // fixtures are single-paragraph, so the plant builds a multi-paragraph
  // document with messy seams — runs of 2/3 blank lines, a
  // whitespace-only paragraph (dropped), edge whitespace (trimmed) —
  // mirrored chr-for-chr in the oracle.
  val q151_segment_paragraphs: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val multi = concat(col("text"),
      lit("\n\n  second paragraph line one\nline two \n\n\n"),
      lit(" \t\n\nthird paragraph stands alone"))
    TextAnalysis.segmentParagraphs(
        docs.select(col("doc_id"), multi.as("text")), "doc_id", "text")
      .orderBy(col("doc_id"), col("para_idx"))
  }

  // q152 paragraph-granular boilerplate removal
  // (Dedup.removeFrequentParagraphs): every doc gets two SHARED planted
  // paragraphs (banned at any minDocFreq) around one doc-unique tail —
  // the shared chrome dies everywhere, each doc's own content and tail
  // survive with the canonical seam.
  private def paraChromePlant(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        lit("\n\nshared boilerplate alpha\n\nunique tail "),
        col("doc_id").cast("string"),
        lit("\n\nshared boilerplate beta")).as("text"))

  val q152_remove_paragraphs: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    Dedup.removeFrequentParagraphs(paraChromePlant(docs), "doc_id", "text",
        minDocFreq = 3)
      .orderBy(col("doc_id"))
  }

  // q154 incremental paragraph removal — q152's standing-corpus form
  // ([[Dedup.buildParagraphIndex]] count-table layout, the q99 pattern
  // at the paragraph unit): the even-doc_id slice's paragraph
  // document-frequencies persist once per sf dir; the odd slice probes
  // against it. STANDING-only semantics — a paragraph frequent only
  // within the probe slice survives (within-batch frequency is q152's
  // job), so the oracle recomputes the even slice's df counts and bans
  // the odd slice at the same threshold.
  private val paraIdxDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q154_paras_against_index: Q = (s, d) => {
    val planted = paraChromePlant(
      t(s, d, "documents").where(col("text").isNotNull))
    val idx = paraIdxDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q154_paraidx_").toString + "/idx"
      Dedup.buildParagraphIndex(planted.where(col("doc_id") % 2 === 0),
        "doc_id", "text", p, minDocFreq = 3)
      p
    })
    Dedup.removeParagraphsAgainstIndex(s,
        planted.where(col("doc_id") % 2 === 1), "doc_id", "text", idx)
      .orderBy(col("doc_id"))
  }

  // q153 WARC crawl-file round-trip (sources.WarcReader + the charset
  // rung): the documents table rendered into a real multi-charset
  // .warc.gz ONCE per sf dir (the q94 memo pattern) — doc_id%3 rotates
  // the declared encoding (utf-8 in the HTTP header / iso-8859-1 in the
  // header / windows-1252 declared ONLY by a meta tag) and appends a
  // per-class non-ASCII plant whose bytes differ under every wrong
  // charset — then read back distributed (one stream per file, records
  // never materialize the file) and charset-decoded. The oracle
  // rebuilds the expected page text from the parquet table, so the
  // hash match proves parse + HTTP split + sniff + transcode end to
  // end.
  val warcMetaCp1252: String = "<meta http-equiv=\"Content-Type\" " +
    "content=\"text/html; charset=windows-1252\">"
  val warcPlants: Seq[String] = Seq(
    " utfé ’—€",
    " latin café ± ÷",
    " cp ’— €")
  /** The per-class declared encodings of the q153/q156 fixture — the
    * single source the q156 oracle derives its canonical names from.
    */
  val warcCharsets: Seq[String] = Seq("utf-8", "iso-8859-1", "windows-1252")
  private val warcDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The q153/q156 multi-charset `.warc.gz` fixture, built once per sf
    * dir (the q94 memo pattern). Besides the per-document text/html
    * responses, every doc_id%5==4 document plants an EXTRA media
    * response (image/png or application/pdf by doc_id%2, binary body
    * with non-UTF-8 bytes) — the reader's text-ish content gate must
    * drop those BEFORE decode (q153 output unchanged) and the q156
    * profile must count them as kills.
    */
  private def warcFixture(s: SparkSession, d: String): String =
    warcDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q153_warc_").toString + "/crawl.warc.gz"
      val docRows = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // fixture construction: bounded by the documents table
      graft.sources.WarcWriter.write(s, p, docRows.iterator.flatMap { r =>
        val id = r.getLong(0)
        val cls = (id % 3).toInt
        val meta = if (cls == 2) warcMetaCp1252 else ""
        val html = s"<html><head>$meta</head><body><p>" +
          s"${r.getString(1)}${warcPlants(cls)}</p></body></html>"
        val page = graft.sources.WarcWriter.responseRecord(
          s"https://ex.com/doc/$id", "2026-01-02T03:04:05Z",
          s"<urn:doc:$id>", html, warcCharsets(cls),
          declareInHeader = cls != 2)
        if (id % 5 == 4) {
          val ct = if (id % 2 == 0) "image/png" else "application/pdf"
          val body = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x00,
            0xFF.toByte, 0xFE.toByte) ++ s"BIN$id".getBytes("UTF-8")
          Seq(page, graft.sources.WarcWriter.mediaResponseRecord(
            s"https://ex.com/media/$id", "2026-01-02T03:04:05Z",
            s"<urn:media:$id>", ct, body))
        } else Seq(page)
      })
      p
    })

  /** The q158 duplicate-digest `.warc.gz` fixture (memoized per sf
    * dir): every doc_id%5==0 document's response carries the SAME
    * fixed page (byte-identical body → one shared digest); every
    * doc_id%7==3 document contributes a `revisit` record pointing at
    * that digest (empty block, the identical-payload-digest profile);
    * every other document gets a unique page with its doc_id embedded.
    * Record ids zero-pad to 12 digits so the min-(date, record_id)
    * representative is the min doc_id — mirrorable in the oracle.
    */
  val warcDupFixedBody: String = "shared crawl page body every re-fetch " +
    "returns the same bytes for"
  private def warcDupPage(body: String): String =
    s"<html><body><p>$body</p></body></html>"
  private val warcDupDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcDupFixture(s: SparkSession, d: String): String =
    warcDupDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q158_warc_").toString + "/crawl.warc.gz"
      val fixedDigest = graft.sources.WarcWriter.payloadDigest(
        warcDupPage(warcDupFixedBody).getBytes("UTF-8"))
      val docRows = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // fixture construction: bounded by the documents table
      graft.sources.WarcWriter.write(s, p, docRows.iterator.flatMap { r =>
        val id = r.getLong(0)
        val html =
          if (id % 5 == 0) warcDupPage(warcDupFixedBody)
          else warcDupPage(s"doc $id: ${r.getString(1)}")
        val page = graft.sources.WarcWriter.responseRecord(
          s"https://ex.com/doc/$id", "2026-01-02T03:04:05Z",
          f"<urn:doc:$id%012d>", html, "utf-8", declareInHeader = true)
        if (id % 7 == 3)
          Seq(page, graft.sources.WarcWriter.revisitRecord(
            s"https://ex.com/doc/$id", "2026-01-02T03:04:06Z",
            s"<urn:rev:$id>", fixedDigest))
        else Seq(page)
      })
      p
    })

  /** The q159 re-fetch `.warc.gz` fixture (memoized per sf dir): every
    * document gets a v1 response; every doc_id%4==1 document gets a v2
    * re-fetch of the SAME url — messier spelling (uppercase scheme/
    * host, default port, a `?utm=x` query) that canonicalizes to the
    * same page key — a LATER date and CHANGED content. The digest rung
    * keeps both versions (different bytes); the URL rung must keep
    * only the newest.
    */
  private val warcRefetchDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcRefetchFixture(s: SparkSession, d: String): String =
    warcRefetchDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q159_warc_").toString + "/crawl.warc.gz"
      val docRows = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // fixture construction: bounded by the documents table
      graft.sources.WarcWriter.write(s, p, docRows.iterator.flatMap { r =>
        val id = r.getLong(0)
        val v1 = graft.sources.WarcWriter.responseRecord(
          s"https://ex.com/doc/$id", "2026-01-02T03:04:05Z",
          s"<urn:v1:$id>", warcDupPage(s"v1 of $id: ${r.getString(1)}"),
          "utf-8", declareInHeader = true)
        if (id % 4 == 1)
          Seq(v1, graft.sources.WarcWriter.responseRecord(
            s"HTTPS://EX.com:443/doc/$id?utm=x", "2026-02-03T04:05:06Z",
            s"<urn:v2:$id>", warcDupPage(s"v2 of $id: ${r.getString(1)}"),
            "utf-8", declareInHeader = true))
        else Seq(v1)
      })
      p
    })

  // q159 URL-level re-fetch dedup (WarcReader.latestByUrl): the crawl
  // multiplicity the digest rung CANNOT collapse — the same page
  // re-fetched with changed content — keyed on the canonical url (the
  // v2 fetches spell theirs messily; q143's canonicalization folds
  // them), newest (warc_date, record_id) fetch kept, fetch count
  // carried. Deterministic per doc_id%4, so the oracle recomputes the
  // winners from the documents table.
  val q159_crawl_latest_fetch: Q = (s, d) => {
    val file = warcRefetchFixture(s, d)
    graft.sources.WarcReader.latestByUrl(s, file)
      .select(
        regexp_extract(col("canon_url"), "([0-9]+)$", 1).cast("bigint")
          .as("doc_id"),
        col("canon_url"), col("n_fetches"), col("html"))
      .orderBy(col("doc_id"))
  }

  // q160 key-index operational card (Dedup.keyIndexCard) — the
  // rebuild-trigger signal over the admission-index family (q62 exact
  // keys, the crawl digest gate): keys held vs the Bloom's build-time
  // sizing. The index persists once per sf dir (the q154 memo
  // pattern): built from the even-doc_id slice, the odd slice's keys
  // appended — so utilization lands deterministically above 1 and the
  // oracle recomputes every figure from the documents table.
  private val keyCardDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q160_key_index_card: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val idx = keyCardDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q160_keyidx_").toString + "/idx"
      Dedup.buildExactKeyIndex(docs.where(col("doc_id") % 2 === 0),
        "text", p)
      Dedup.appendExactKeys(s, docs.where(col("doc_id") % 2 === 1),
        "text", p)
      p
    })
    Dedup.keyIndexCard(s, idx)
  }

  // q158 digest-keyed crawl dedup (WarcReader.responsesDeduped): the
  // pre-decode rung — `WARC-Payload-Digest` groups byte-identical
  // fetches (including `revisit` records, which carry the digest and
  // no payload) BEFORE any charset decode runs; only the min-(date,
  // record_id) representative's payload is ever transcoded. Over the
  // fixture the groups are deterministic functions of doc_id%5 and
  // doc_id%7, so the oracle recomputes them from the documents table.
  val q158_crawl_digest_dedup: Q = (s, d) => {
    val file = warcDupFixture(s, d)
    graft.sources.WarcReader.responsesDeduped(s, file)
      .select(
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("bigint")
          .as("doc_id"),
        col("n_fetches"), col("n_revisits"), col("html"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q166 digest dedup under the VERIFY trust mode
  // (WarcReader.dedupByDigest(verifyDigests = true)) over a HOSTILE /
  // sloppy crawl — the two trust holes the default (claim-keyed) rung
  // documents, planted and neutralized:
  //   - doc_id%5==0 responses all CLAIM the same forged digest over
  //     their own distinct bodies — the default rung would collapse
  //     them all onto one survivor; verify mode keys every response on
  //     a locally computed hash, so each keeps its row;
  //   - doc_id%9==4 (and not %5==0) pages are fetched twice
  //     byte-identically, once by a writer that OMITS the digest and
  //     once by one that claims it — the default rung can't group the
  //     pair (md5 fallback vs claimed sha1); verify mode collapses it
  //     (n_fetches = 2, the earlier digest-less fetch representative);
  //   - one revisit claims the forged digest — the claim-map remap
  //     routes it to the min-LOCAL-key claimant (deterministic under
  //     forgery), never double-counted into every claimant.
  // The oracle recomputes everything from the documents table; the
  // remap target is ORDER BY MD5(page) LIMIT 1 — the same min the
  // engine's claim map takes over the utf-8 page bytes.
  // ---------------------------------------------------------------
  val warcForgedClaim = "sha1:FORGEDCLAIMVALUE234567ABCDEFGH"
  private val warcForgeDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcForgeFixture(s: SparkSession, d: String): String =
    warcForgeDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q166_warc_").toString + "/crawl.warc.gz"
      val docRows = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // fixture construction: bounded by the documents table
      import graft.sources.WarcWriter
      graft.sources.WarcWriter.write(s, p, docRows.iterator.flatMap { r =>
        val id = r.getLong(0)
        val body = warcDupPage(s"doc $id: ${r.getString(1)}")
          .getBytes("UTF-8")
        def resp(date: String, rid: String,
                 digest: Option[String]): Array[Byte] =
          WarcWriter.record("response", s"https://ex.com/doc/$id", date,
            rid, "application/http; msgtype=response",
            WarcWriter.httpResponseBlock(200, "text/html; charset=utf-8",
              body),
            extraHeaders =
              digest.map("WARC-Payload-Digest" -> _).toSeq)
        if (id % 5 == 0)
          Seq(resp("2026-01-02T03:04:05Z", f"<urn:doc:$id%012d>",
            Some(warcForgedClaim)))
        else if (id % 9 == 4)
          Seq(
            resp("2026-01-02T03:04:05Z", f"<urn:doc:$id%012d>", None),
            resp("2026-01-02T03:04:06Z", f"<urn:dup:$id%012d>",
              Some(WarcWriter.payloadDigest(body))))
        else
          Seq(resp("2026-01-02T03:04:05Z", f"<urn:doc:$id%012d>",
            Some(WarcWriter.payloadDigest(body))))
      } ++ Iterator(graft.sources.WarcWriter.revisitRecord(
        "https://ex.com/revisit", "2026-01-03T00:00:00Z",
        "<urn:rev:forged>", warcForgedClaim)))
      p
    })

  val q166_verified_digest_dedup: Q = (s, d) => {
    val file = warcForgeFixture(s, d)
    graft.sources.WarcReader.responsesDeduped(
        graft.sources.WarcReader.read(s, file), verifyDigests = true)
      .select(
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("bigint")
          .as("doc_id"),
        col("n_fetches"), col("n_revisits"), col("html"))
      .orderBy(col("doc_id"))
  }

  val q153_warc_responses: Q = (s, d) => {
    val file = warcFixture(s, d)
    graft.sources.WarcReader.responses(s, file)
      .select(
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("bigint")
          .as("doc_id"),
        col("url"), col("http_status").cast("int").as("http_status"),
        col("html"))
      .orderBy(col("doc_id"))
  }

  // q157 the crawl→training-ids terminal — q155's composition ending
  // at MATERIALIZED token ids (the q115 convention): intake → curation
  // stages → budget sampling in the BPE currency → packTokens. The
  // oracle builds its BPE word table over the INTAKE words (extracted
  // headings, decoded entities — not a subset of documents.text) via
  // the parameterized fragment, then chains the shared token-id tail.
  val q157_crawl_token_ids: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val taken = Web.intake(webIntakePages(docs), "doc_id", "html",
      webIntakeThresholds)
    val withSource = taken
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    serializeIdArrays(
      Curation.curateTokens(s, withSource, "doc_id", "norm_text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = tokenBudgets),
        graft.functions.TokenCounters.tinyBpe),
      "token_ids", "doc_starts")
      .orderBy(col("source"), col("seq_id"))
  }

  // q156 crawl source-quality profile — the audit card over a crawl
  // file: per (charset, http_status, textish) page counts. Text-ish
  // responses carry their SNIFFED charset (the codegen'd SniffCharset
  // audit column — same rung order as the decode by construction);
  // responses the content gate KILLS carry their media mime instead
  // and `textish = false` — the kill counts the decode never pays
  // for. Over the q153 fixture both outcomes are deterministic
  // functions of doc_id (%3 rotates the declared charset, %5==4
  // plants the media responses, %2 picks png vs pdf), so the oracle
  // derives the expected names from the SAME constants.
  val q156_warc_charset_profile: Q = (s, d) => {
    val file = warcFixture(s, d)
    val gate = graft.sources.WarcReader.textish(col("http_content_type"))
    graft.sources.WarcReader.read(s, file).toDF()
      .where(col("warc_type") === "response")
      .select(
        when(gate,
          graft.functions.VectorFunctions
            .sniffCharset(col("payload"), col("http_content_type")))
          .otherwise(
            trim(lower(substring_index(col("http_content_type"), ";", 1))))
          .as("charset"),
        col("http_status").cast("int").as("http_status"),
        gate.as("textish"))
      .groupBy(col("charset"), col("http_status"), col("textish"))
      .agg(count(lit(1)).as("n_pages"))
      .orderBy(col("charset"))
  }

  // ---------------------------------------------------------------
  // q162/q163 robots/noindex compliance gate — the crawl-policy rung
  // beside the q150 blocklist: pages opting out via the X-Robots-Tag
  // response header or a <meta name="robots"> noindex directive drop
  // at the reader, with per-reason kill accounting (the q156 card
  // convention). The fixture varies attribute order, quoting and case
  // across deterministic doc_id classes so the oracle recomputes the
  // kept set and the kill counts from arithmetic alone:
  //   - doc_id%3==1  -> a noindex META (two spellings by doc_id%2);
  //   - doc_id%5==2  -> an X-Robots-Tag noindex HEADER (two spellings);
  //   - doc_id%7==6  -> a nofollow-only meta (must NOT drop);
  //   - overlaps drop once, like any gate.
  // ---------------------------------------------------------------
  private def robotsHead(id: Long): String =
    if (id % 3 == 1)
      (if (id % 2 == 0) "<meta name=\"robots\" content=\"noindex, nofollow\">"
       else "<META content='noindex' name='Robots'>")
    else if (id % 7 == 6) "<meta name=\"robots\" content=\"nofollow\">"
    else ""
  private val warcRobotsDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcRobotsFixture(s: SparkSession, d: String): String =
    warcRobotsDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q162_warc_").toString + "/crawl.warc.gz"
      val docRows = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // fixture construction: bounded by the documents table
      graft.sources.WarcWriter.write(s, p, docRows.iterator.map { r =>
        val id = r.getLong(0)
        val html = s"<html><head>${robotsHead(id)}</head><body><p>" +
          s"doc $id: ${r.getString(1)}</p></body></html>"
        val headers =
          if (id % 5 == 2)
            Seq("X-Robots-Tag" ->
              (if (id % 2 == 0) "noindex" else "googlebot: NOINDEX, nofollow"))
          else Nil
        graft.sources.WarcWriter.responseRecord(
          s"https://ex.com/doc/$id", "2026-01-02T03:04:05Z",
          s"<urn:doc:$id>", html, "utf-8", declareInHeader = true,
          httpHeaders = headers)
      })
      p
    })

  val q162_robots_gate: Q = (s, d) => {
    val file = warcRobotsFixture(s, d)
    graft.sources.WarcReader.responses(
        graft.sources.WarcReader.read(s, file), robotsGate = true)
      .select(
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("bigint")
          .as("doc_id"),
        col("url"), col("http_status"), col("html"))
      .orderBy(col("doc_id"))
  }

  // the kill card: every response classified header / meta / kept —
  // header wins ties (it kills before decode), exactly the gate's
  // evaluation order
  val q163_robots_profile: Q = (s, d) => {
    val file = warcRobotsFixture(s, d)
    graft.sources.WarcReader.read(s, file).toDF()
      .where(col("warc_type") === "response")
      .select(
        when(Web.robotsHeaderNoindex(col("http_robots")), lit("header"))
          .when(Web.metaRobotsNoindex(
            graft.functions.VectorFunctions.decodeCharset(
              col("payload"), col("http_content_type"))), lit("meta"))
          .otherwise(lit("kept")).as("kill"))
      .groupBy(col("kill"))
      .agg(count(lit(1)).as("n_pages"))
      .orderBy(col("kill"))
  }

  // ---------------------------------------------------------------
  // q165 the crawl-RECIPE capstone — the WHOLE round-19 story as ONE
  // oracle-sealed query: a WARC landing with every crawl multiplicity
  // planted (the q162 robots opt-outs in head/header, the q161 per-doc
  // PII inside every body, a byte-identical re-fetch for doc_id%4==3,
  // the q148 %11 fixed-page mass), run through digest dedup → robots
  // gate → intake → PII-redacting per-LANGUAGE curation. Each rung is
  // oracle-pinned alone (q158/q162/q161/q164); this pins their
  // COMPOSITION ORDER: replicas collapse before any decode, opt-outs
  // die before intake, the language decision reads the UN-redacted
  // normalized text (Curation.curateByLanguage routes before stage 1's
  // scrub), the %11 pages — identical except their PII — collapse at
  // the curate screen, budgets spend per language. The join-backs make
  // the pre-intake rungs observable in the hash: n_fetches counts the
  // digest collapse (a leaked replica would also bump intake's
  // n_dupes), so a silently skipped or misgrouped rung mismatches.
  // ---------------------------------------------------------------
  private val warcRecipeDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcRecipeFixture(s: SparkSession, d: String): String =
    warcRecipeDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q165_warc_").toString + "/crawl.warc.gz"
      val docRows = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .collect() // fixture construction: bounded by the documents table
      graft.sources.WarcWriter.write(s, p, docRows.iterator.flatMap { r =>
        val id = r.getLong(0)
        val body = if (id % 11 == 0) webIntakeFixedText else r.getString(1)
        val pii = s" contact user$id@example.com at +1-555-0$id " +
          s"ip 10.0.0.${id % 256}"
        val html = s"<html><head>${robotsHead(id)}</head>" +
          s"<body><h1>Hdr</h1><p>$body$pii</p>" +
          "<ul><li>alpha&nbsp;caf&eacute;</li>" +
          "<li>beta&#8212;&#x2014;end</li></ul></body></html>"
        val headers =
          if (id % 5 == 2)
            Seq("X-Robots-Tag" ->
              (if (id % 2 == 0) "noindex" else "googlebot: NOINDEX, nofollow"))
          else Nil
        val first = graft.sources.WarcWriter.responseRecord(
          s"https://ex.com/doc/$id", "2026-01-02T03:04:05Z",
          s"<urn:recipe:$id>", html, "utf-8", declareInHeader = true,
          httpHeaders = headers)
        // the byte-identical re-fetch: same payload, later fetch — the
        // digest rung must collapse it onto the min-(date, id) original
        if (id % 4 == 3)
          Seq(first, graft.sources.WarcWriter.responseRecord(
            s"https://ex.com/doc/$id", "2026-01-06T07:08:09Z",
            s"<urn:recipe:$id:r2>", html, "utf-8", declareInHeader = true,
            httpHeaders = headers))
        else Seq(first)
      })
      p
    })

  val q165_crawl_recipe: Q = (s, d) => {
    val file = warcRecipeFixture(s, d)
    // materialized once (the Curation stage-boundary discipline applied
    // at the composition level, under the same materialize knob —
    // `-Dgraft.curate.materialize=none` keeps the chain explainable):
    // `pages` feeds the intake AND the n_fetches join-back, `taken`
    // feeds curation AND the n_dupes join-back — without the boundaries
    // each join-back would re-run the whole WARC read + digest dedup +
    // robots gate (+ intake) chain. Same rows either way; this is an
    // execution boundary only.
    val pages = Curation.boundary(graft.sources.WarcReader.responsesDeduped(
        graft.sources.WarcReader.read(s, file), robotsGate = true)
      .select(
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("bigint")
          .as("doc_id"),
        col("html"), col("n_fetches")))
    val taken = Curation.boundary(
      Web.intake(pages, "doc_id", "html", webIntakeThresholds))
    Curation.curateByLanguage(s, taken, "doc_id", "norm_text",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = languageBudgets, redactPii = true))
      .join(taken.select(col("doc_id"), col("n_dupes")), Seq("doc_id"))
      .join(pages.select(col("doc_id"), col("n_fetches")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  // q59 int8-quantized brute-force top-k: q25's retrieval over 4×-smaller
  // vectors (symmetric per-vector quantization, scale-free cosine on the
  // byte arrays — no dequantization in the rank). Deterministic
  // floor(+0.5) rounding → the oracle mirrors the quantization in SQL
  // and the result hash-checks like the exact query.
  val q59_quantized_topk: Q = (s, d) =>
    Similarity.quantizedTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10)
      .orderBy(col("vec_id"))

  // q100 PRODUCT-QUANTIZATION top-k — the third compression rung of the
  // ANN family (float → int8 → PQ codes): md5-seeded per-subspace
  // codebooks, every vector stored as m=4 codes, candidates scored from
  // the per-query ADC lookup table without touching a stored float. The
  // approximation is deterministic end to end, so it hash-checks like an
  // exact query (the q32/q39 convention).
  val q100_pq_topk: Q = (s, d) =>
    Similarity.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, m = 4, nCodes = 16)
      .orderBy(col("vec_id"))

  // the index point-probe queries' query: vector 0, widened to double
  private def queryVec0(emb: DataFrame): Array[Double] =
    emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray

  // q101 PQ top-k served from the PERSISTED layout (codes only on disk:
  // m ints per vector vs 64 doubles — the index that still fits the page
  // cache at 100 TB of embeddings). Same deterministic codebooks as
  // q100, so the probe hash-checks against the same oracle. Memoized per
  // corpus dir like q57/q61 (a standing index is an input, not
  // per-query work).
  private val pqIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def pqIndexDir(s: SparkSession, d: String): String =
    pqIndexDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q101_pqidx_").toString
      Similarity.buildPqIndex(t(s, d, "embeddings"), "vec_id", "embedding", p,
        m = 4, nCodes = 16)
      p
    })
  val q101_pq_index_topk: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = pqIndexDir(s, d)
    val qv = queryVec0(emb)
    Similarity.pqIndexTopK(s, dir, "vec_id", qv, k = 10)
      .orderBy(col("vec_id"))
  }

  // q103 IVF-PQ top-k — the cell-partitioned layout with PQ-code
  // storage: a probe prunes non-probed cell DIRECTORIES and reads m=4
  // ints per surviving row. Same md5-seeded centroids as q39/q54 and
  // codebooks as q100, so the composition hash-checks deterministically.
  private val ivfPqIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfPqIndexDir(s: SparkSession, d: String): String =
    ivfPqIndexDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q103_ivfpq_").toString
      Similarity.buildIvfPqIndex(t(s, d, "embeddings"), "vec_id", "embedding", p,
        nCells = 16, m = 4, nCodes = 16)
      p
    })
  val q103_ivfpq_topk: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = ivfPqIndexDir(s, d)
    val qv = queryVec0(emb)
    Similarity.ivfPqIndexTopK(s, dir, "vec_id", qv, k = 10, nProbe = 3)
      .orderBy(col("vec_id"))
  }

  // q104 batch PQ k-NN join — the {PQ}×{batch-join} cell of the
  // layout×storage matrix: every 100th vector as a query, per-query ADC
  // LUTs precomputed on the broadcast probe side, the corpus scored from
  // its m=4 codes at m array probes per pair. Same md5-seeded codebooks
  // as q100, so point probes and the batch join agree and the
  // deterministic approximation hash-checks like an exact query.
  val q104_pq_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.pqKnnJoin(
        emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, m = 4, nCodes = 16)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q105 batch PQ join served from the PERSISTED code layout (the q101
  // index, memoized per corpus dir): the scan reads m ints per corpus
  // row — never a stored float — and returns exactly q104's results
  // (identical codebooks), the q57-vs-q54 convention.
  val q105_pq_index_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = pqIndexDir(s, d)
    Similarity.pqIndexKnnJoin(s, dir, "vec_id",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 10)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q106 batch IVF-PQ join — the join that completes the matrix: q57's
  // cell-directory pruning over q105's code-only scan (probed bytes ≈
  // nProbe/nCells × ~1/64 of a flat float scan). Reuses the q103 index;
  // scores are identical to q103 point probes over the probed cells.
  val q106_ivfpq_index_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = ivfPqIndexDir(s, d)
    Similarity.ivfPqIndexKnnJoin(s, dir, "vec_id",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nProbe = 3)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q107/q108 PQ probe + EXACT rerank — the two-stage retrieval the
  // measured recall surface prescribes (BASELINE.md: ADC rank tops out
  // near 0.5 recall@10 at this compression; the kCand cut + exact
  // rerank restores it): the code-only scan proposes kCand candidates,
  // only those rows' floats are fetched and exactly ranked. Both stages
  // deterministic, so the composition hash-checks like an exact query.
  val q107_pq_rerank_topk: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = pqIndexDir(s, d)
    val qv = queryVec0(emb)
    Similarity.pqIndexTopKRerank(s, dir, emb, "vec_id", "embedding", qv,
        k = 10, kCand = 50)
      .orderBy(col("vec_id"))
  }

  val q108_pq_rerank_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = pqIndexDir(s, d)
    Similarity.pqIndexKnnJoinRerank(s, dir, emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, kCand = 50)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q109/q110 RESIDUAL IVF-PQ — classic IVF-PQ's recall fix at equal
  // bytes: codes encode v − centroid[cell], so the codebook budget
  // describes within-cell variation; probes score exact cosine against
  // centroid + decode(codes) via the disjoint-support identity. Same
  // md5-seeded centroids and seed sample as q103, so the composition
  // stays deterministic and hash-checks.
  private val ivfPqResIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfPqResDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    ivfPqResIndexDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q109_ivfpqr_").toString
      Similarity.buildIvfPqIndex(t(s, d, "embeddings"), "vec_id", "embedding", p,
        nCells = 16, m = 4, nCodes = 16, residual = true)
      p
    })
  val q109_ivfpq_residual_topk: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val qv = queryVec0(emb)
    Similarity.ivfPqIndexTopK(s, ivfPqResDir(s, d), "vec_id", qv, k = 10, nProbe = 3)
      .orderBy(col("vec_id"))
  }

  val q110_ivfpq_residual_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.ivfPqIndexKnnJoin(s, ivfPqResDir(s, d), "vec_id",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nProbe = 3)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q111 IVF rebuild-drift audit — the frozen-centroid contract's
  // operational gauge: refit centroids on the index's CURRENT stored
  // corpus (same deterministic seeding as the builder) and report how
  // many rows each cell would keep on a rebuild. On the static fixture
  // the refit reproduces the build exactly (retention 1.0 everywhere —
  // the oracle pins that identity); drift appears once a stream appends
  // (spec-pinned in IndexLayoutSpec).
  val q111_ivf_rebuild_drift: Q = (s, d) =>
    Similarity.ivfRebuildDrift(s, ivfIndexDir(s, d), "vec_id", "embedding")
      .orderBy(col("cell"))

  // q112 IVF-PQ + exact rerank — the composed best case per probed
  // byte: cell pruning × code-only scan proposes kCand per query,
  // bounded float fetch + exact cosine finishes. Reuses the q103 index.
  val q112_ivfpq_rerank_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = ivfPqIndexDir(s, d)
    Similarity.ivfPqIndexKnnJoinRerank(s, dir, emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, kCand = 50, nProbe = 3)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q114 code-layout rebuild drift — q111's gauge for the layouts whose
  // floats are GONE (the int8 index): decode q·scale/127, refit with
  // the builder's md5 seeding on the decoded corpus, compare fresh vs
  // stored cells. Every step (quantize, decode, seed, argmax-cosine) is
  // replayed by the DuckDB oracle, so the audit hash-checks even where
  // decode error flips a boundary row — the numbers ARE the contract,
  // not an assumed identity.
  val q114_code_rebuild_drift: Q = (s, d) =>
    Similarity.codeRebuildDrift(s, ivfQIndexDir(s, d), "vec_id").orderBy(col("cell"))

  // q113 token-id materialization — q52's packing arithmetic made REAL:
  // the pipeline terminal that emits training-ready array<int> id
  // sequences (greedy-BPE ids under the pinned tinyMerges table, the
  // q52b counting rule) instead of offsets over raw text. The oracle
  // rebuilds the id stream with the same recursive-CTE merge walk plus
  // the code-point/merged-rank id rule, so the sequences hash-check
  // element for element. The DECLARED canonical form serializes the
  // id arrays to space-joined strings (element order already pinned by
  // the in-sequence sort) so the driver's pandas canonicalizer can
  // sort/hash the cells; the programmatic API (Packing.packTokens)
  // keeps the raw array<int> form.
  val q113_pack_token_ids: Q = (s, d) =>
    serializeIdArrays(
      Packing.packTokens(t(s, d, "documents"), "doc_id", "text", "source",
          seqLen = 512, graft.functions.TokenCounters.tinyBpe),
      "token_ids", "doc_starts")
      .orderBy(col("source"), col("seq_id"))

  // q116 cross-corpus perplexity — the CCNet filter shape: the bigram
  // model trains on the ENGLISH slice only, every document (all
  // languages) is scored under that model. In-domain docs score low,
  // foreign-language docs surface as high-perplexity / high-OOV — the
  // knob a perplexity-bucketed mixture trims on. Same determinism
  // contract as q73 plus exact-integer OOV counts.
  val q116_cross_ppl: Q = (s, d) => {
    val docs = t(s, d, "documents")
    TextAnalysis.bigramLmScoreAgainst(
        docs.where(col("lang") === "en"), docs, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  // q117 learned quality filter — the GPT-3 recipe distilled to its
  // deterministic closed form: provenance weak labels (curated sources
  // src0-src2 positive, the rest negative), a multinomial NB token model
  // trained on those labels, every document scored by log-odds of
  // "curated-like". Training is exact integer counting, so the whole
  // fit hash-checks — the learned-filter capability without an
  // unverifiable optimizer in the loop.
  val q117_nb_quality: Q = (s, d) => {
    val docs = t(s, d, "documents").withColumn("label",
      col("source").isin("src0", "src1", "src2").cast("int"))
    TextAnalysis.naiveBayesScore(docs, "doc_id", "text", "label")
      .orderBy(col("doc_id"))
  }

  // q118 tokenized-corpus data card — the trainer-side audit over the
  // q113 terminal: per shard, contributing docs, BPE token totals, the
  // ARITHMETICALLY-derived sequence counts (ids lay end-to-end, so
  // n_seqs = ceil(tokens/512) with no pack shuffle paid), vocabulary
  // actually used, top-5 ids. All exact integers — no rounding contract.
  val q118_token_card: Q = (s, d) =>
    serializeIdArrays(
      Packing.tokenizedCard(t(s, d, "documents"), "doc_id", "text", "source",
          seqLen = 512, graft.functions.TokenCounters.tinyBpe),
      "top_ids")
      .orderBy(col("source"))

  // q120 perplexity-bucketed partition — the CCNet trim over q116: fixed
  // head/middle/tail cuts (derived offline, applied as plan literals —
  // no quantile pass in the hot path) label every scorable document
  // against the English-slice reference LM. Band membership compares
  // the ROUNDED score, so the label is as deterministic as q116.
  val q120_ppl_partition: Q = (s, d) => {
    val docs = t(s, d, "documents")
    TextAnalysis.perplexityPartition(
        docs.where(col("lang") === "en"), docs, "doc_id", "text",
        loBits = 4.9, hiBits = 5.0)
      .orderBy(col("doc_id"))
  }

  // q122 tokenizer fertility audit — the tokenizer-choice gauge: BPE
  // ids spent per whitespace word and characters covered per id, per
  // language. High fertility = the vocabulary shreds that language's
  // words (inflated effective sequence length). Ratios are single
  // divisions of exact integer sums rounded at 6.
  val q122_tokenizer_fertility: Q = (s, d) =>
    Packing.tokenizerFertility(t(s, d, "documents"), "text", "lang",
      graft.functions.TokenCounters.tinyBpe)

  // q121 learned-filter acceptance gauge — the operating-point table
  // for q117's NB scorer: confusion counts and precision/recall/F1 at
  // candidate admission thresholds, self-evaluated against the
  // provenance truth that trained it (the resubstitution gauge — the
  // same corpus-side contract annRecall uses for the ANN family). All
  // ratios are single divisions of exact integers rounded at 6.
  val q121_score_audit: Q = (s, d) => {
    val docs = t(s, d, "documents").withColumn("label",
      col("source").isin("src0", "src1", "src2").cast("int"))
    val scored = TextAnalysis.naiveBayesScore(docs, "doc_id", "text", "label")
    Analytics.scoreAudit(
      scored.join(docs.select(col("doc_id"), col("label")), Seq("doc_id")),
      "log_odds", "label", Seq(-4.0, -2.7, -1.5))
  }

  // q119 DSIR importance resampling — the data-selection step: hashed
  // n-gram models of the curated slice (src0-src2) vs the whole pool,
  // per-doc importance log-weights, 100 docs drawn ∝ weight by
  // deterministic Gumbel top-k (the md5 coin as the noise source, keys
  // rounded at 6 before ranking). Counts exact, divisions correctly
  // rounded, ln within an ulp — the learned-filter contract.
  val q119_dsir_resample: Q = (s, d) =>
    Sampling.dsirResample(t(s, d, "documents"), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"), n = 100, dim = 64)
      .orderBy(col("doc_id"))

  // q123 cell-balanced sample — the semantic diversification sampler:
  // at most 5 rows per md5-seeded IVF cell, within-cell membership by
  // the md5-coin rank. Uniform coverage of embedding space instead of
  // density-proportional — breadth for mixtures/eval probes/labeling.
  val q123_cell_balanced_sample: Q = (s, d) =>
    Similarity.cellBalancedSample(t(s, d, "embeddings"), "vec_id",
        "embedding", nCells = 16, perCell = 5)
      .orderBy(col("vec_id"))

  // q124 hard-negative mining — every 100th vector as anchor, top-5
  // most-similar DIFFERENT-label rows inside the semi-hard band
  // [0.0, 0.3] on the rounded score: the ceiling drops suspected
  // unlabeled positives, the floor drops no-gradient easy negatives.
  val q124_hard_negatives: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", "vec_id", "embedding", "label",
        k = 5, maxSim = 0.3, minSim = 0.0)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q125 k-NN label propagation — every 100th vector (self excluded)
  // takes the majority label of its 10 nearest labeled neighbors;
  // ties to the smallest label, vote_frac as admission confidence.
  val q125_knn_classify: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.knnClassify(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", "vec_id", "embedding", k = 10)
      .orderBy(col("q_id"))
  }

  // q129 k-NN auto-labeling — q125 in the production direction: the
  // ENTIRE table labeled from the 1% seed (every 100th vector), the
  // small labeled side broadcast so the corpus-sized query set never
  // shuffles beyond its bounded top-k partials.
  val q129_knn_autolabel: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.knnClassify(emb.filter(col("vec_id") % 100 === 0), emb,
        "vec_id", "embedding", "label", "vec_id", "embedding", k = 3,
        broadcastLabeled = true)
      .orderBy(col("q_id"))
  }

  // q131 random projection — 64-d embeddings reduced to 16 deterministic
  // md5-matrix components (the probe-byte lever before any index),
  // emitted (vec_id, pos, proj) rounded at the query edge.
  val q131_random_project: Q = (s, d) =>
    t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(
        graft.functions.VectorFunctions.randomProject(
          col("embedding").cast("array<double>"), 64, 16)))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        round(col("col"), 6).as("proj"))
      .orderBy(col("vec_id"), col("pos"))

  // q132 projection-coarse rerank k-NN join — the measured two-stage
  // recipe as one operator: the q131 md5-matrix projection (64→8)
  // proposes 20 candidates per query by brute rank in projected space,
  // the original floats decide the final top-5 among those candidates
  // only (1/8 of the float bytes scanned + 20 full rows per query).
  val q132_proj_knn_rerank: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.projKnnJoinRerank(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, dim = 64, outDim = 8, kCand = 20)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q130 label-noise audit — every labeled vector re-predicted from its
  // 10 nearest OTHER labeled rows; disagreements with a confident vote
  // are the mislabel suspects to re-check before the set trains
  // anything.
  val q130_label_noise: Q = (s, d) =>
    Similarity.labelNoiseAudit(t(s, d, "embeddings"),
        "vec_id", "embedding", "label", k = 10)
      .orderBy(col("q_id"))

  // q137 IVF-celled label-noise audit — q130's statement at corpus
  // scale: the q54 cell geometry ranks each labeled row's 10 nearest
  // OTHER rows within its 3 probed cells (self-exclusion below the
  // rank), the vote/argmax/attach conventions identical to the exact
  // audit.
  val q137_label_noise_ivf: Q = (s, d) =>
    Similarity.labelNoiseAuditIvf(t(s, d, "embeddings"),
        "vec_id", "embedding", "label", k = 10, nCells = 16, nProbe = 3)
      .orderBy(col("q_id"))

  // q128 IVF-celled hard-negative mining — q124's statement under the
  // q54 cell geometry (16 cells, 3 probes): the scale path when anchors
  // grow with the corpus; predicates pushed below the rank so every
  // anchor still fills k from its probed cells.
  val q128_hard_negatives_ivf: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.hardNegativesIvf(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", "vec_id", "embedding", "label",
        k = 5, nCells = 16, nProbe = 3, maxSim = 0.3, minSim = 0.0)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q126 per-source frequency cap — at most the 10 longest documents per
  // source survive (n_chars desc, doc_id asc): the bounded TopKAgg rank,
  // never a per-key window, so one oversized source costs nothing extra.
  val q126_cap_per_source: Q = (s, d) =>
    Sampling.capPerKey(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "source", "n_chars", n = 10)
      .orderBy(col("doc_id"))

  // q127 leakage-safe split — train/val/test assigned per SOURCE, not per
  // document: every doc of a source lands on the same side, the property
  // an i.i.d. row split violates whenever correlated groups exist.
  val q127_group_split: Q = (s, d) =>
    Sampling.splitByGroup(
        t(s, d, "documents").select(col("doc_id"), col("source")), "source")
      .orderBy(col("doc_id"))

  // q102 ANN recall audit — the acceptance gauge for the approximate
  // family: q54's IVF k-NN join scored against the exact brute-force
  // top-10 for the same query set. Both sides deterministic, so the
  // recall numbers hash-check like exact queries.
  val q102_ann_recall: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val approx = Similarity.ivfKnnJoin(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 10, nCells = 16, nProbe = 3)
    val truth = Similarity.bruteKnnJoin(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 10)
    Similarity.annRecall(approx, truth, "vec_id").orderBy(col("q_id"))
  }

  // q49 duplicated-span pressure: fraction of each doc's winnowing spans
  // (q40's fingerprints, k=8/t=16) shared with other docs + keep flag —
  // the span-dedup screen.
  val q49_dup_span_frac: Q = (s, d) =>
    Dedup.dupSpanFrac(t(s, d, "documents"), "doc_id", "text", k = 8, t = 16)
      .orderBy(col("doc_id"))

  // q88 span EXCISION — the dedup ACTION q49 only measures: every
  // cross-doc duplicated 8-word span is removed from all docs but its
  // lowest-id keeper; output is the rewritten corpus (whitespace
  // normalized by the documented single-space re-join).
  val q88_excise_spans: Q = (s, d) =>
    Dedup.exciseDupSpans(t(s, d, "documents"), "doc_id", "text", w = 8)
      .orderBy(col("doc_id"))

  // q90 intra-doc repeat collapsing — q88's within-document twin and
  // the ACTION behind q51's repetition signals: repeated 3-gram
  // occurrences after the first removed under the conservative
  // first-occurrence-coverage rule.
  val q90_collapse_repeats: Q = (s, d) =>
    Dedup.collapseRepeats(t(s, d, "documents"), "doc_id", "text", w = 3)
      .orderBy(col("doc_id"))

  // q91 span excision against a STANDING gram index — q88's incremental
  // form and q62's excision twin: the %4==0 slice is the persisted
  // corpus, the rest is the incoming batch whose corpus-duplicated
  // 8-word spans are excised (Bloom prefilter + exact verify, corpus
  // grams only scanned). One index build per sf dir, reused across runs
  // (the q62 pattern).
  private val gramIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q91_excise_against_index: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val dir = gramIndexDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q91_grams_").toString
      Dedup.buildGramIndex(docs.filter(col("doc_id") % 4 === 0), "text", p, w = 8)
      p
    })
    Dedup.exciseAgainstIndex(s, docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", dir)
      .orderBy(col("doc_id"))
  }

  // q94 JSONL round-trip — newline-delimited JSON is the LLM-corpus
  // interchange format (public dumps ship as .jsonl); an engine that
  // claims the curation surface must read and write it without value
  // loss. The query materializes the documents table as JSONL once per
  // sf dir (the q91 memo pattern), reads it back under the SOURCE's own
  // schema (never inference — at corpus scale that is a second full
  // read with unpredictable type widening), and projects every column.
  // The oracle reads the ORIGINAL parquet, so the hash match IS the
  // fidelity proof: nulls (written as omitted fields), string escapes,
  // and long range all survive the trip.
  private val jsonlDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q94_jsonl_roundtrip: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val dir = jsonlDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q94_jsonl_").toString + "/docs"
      docs.write.mode("overwrite").json(p)
      p
    })
    graft.sources.Sources.jsonl(s, dir, docs.schema)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // q98 sliding-window doc chunking — [[Packing.chunkDocs]] at
  // maxWords=8, overlap=2: the embedding/retrieval-context prep step
  // (pack's per-doc dual). Pure integer boundary math on both engines
  // (stride arithmetic + inclusive list slicing), so the oracle
  // recomputes chunk starts exactly; chunk_id cast bigint to match
  // DuckDB's RANGE type.
  val q98_chunk_docs: Q = (s, d) => {
    Packing.chunkDocs(t(s, d, "documents"), "doc_id", "text",
        maxWords = 8, overlap = 2)
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        col("chunk_text"), col("n_words"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // q97 corpus-frequency boilerplate line removal —
  // [[Dedup.removeFrequentLines]] over a deterministic reflow: the
  // fixture's docs are single-line, so both engines first re-line them
  // into 3-word lines (slice arithmetic is integer-exact and identical
  // in Spark `slice`/DuckDB list slicing), then any line held by >= 3
  // docs is removed EVERYWHERE (no keeper — the CCNet rule, vs q88's
  // keep-first span excision). ~250 of ~7.5k distinct lines ban at
  // both sf0.001 and sf0.01, so removal, blank-doc survival and the
  // no-keeper property are all exercised.
  /** The q97/q99 deterministic re-line: single-line fixture docs
    * reflowed into 3-word lines (integer slice arithmetic, identical
    * in Spark `slice` and DuckDB list slicing).
    */
  private def reflow3(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("_w"))
      .select(col("doc_id"),
        when(size(col("_w")) > 0,
          expr("concat_ws('\n', transform(" +
            "sequence(0, cast(ceil(size(_w) / 3.0) as int) - 1), " +
            "i -> concat_ws(' ', slice(_w, i*3+1, 3))))"))
          .otherwise(lit("")).as("lined"))

  val q97_boilerplate_lines: Q = (s, d) => {
    Dedup.removeFrequentLines(reflow3(t(s, d, "documents")), "doc_id", "lined",
        minDocFreq = 3)
      .orderBy(col("doc_id"))
  }

  // q99 incremental line removal — q97's standing-corpus form
  // ([[Dedup.buildLineIndex]] count-table layout): the even-doc_id
  // slice is the standing corpus whose line document-frequencies are
  // persisted once per sf dir (the q91 memo pattern); the odd slice
  // probes against it. STANDING-only semantics (a line frequent only
  // within the probe batch survives — batch-internal frequency is
  // q97's job), so the oracle recomputes the even slice's df counts
  // and bans at the same threshold.
  private val lineIdxDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q99_lines_against_index: Q = (s, d) => {
    val lined = reflow3(t(s, d, "documents"))
    val idx = lineIdxDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q99_lineidx_").toString + "/idx"
      Dedup.buildLineIndex(lined.where(col("doc_id") % 2 === 0),
        "doc_id", "lined", p, minDocFreq = 3)
      p
    })
    Dedup.removeLinesAgainstIndex(s, lined.where(col("doc_id") % 2 === 1),
        "doc_id", "lined", idx)
      .orderBy(col("doc_id"))
  }

  // q96 ORC round-trip — q94's twin for the columnar interchange
  // format: write `documents` as ORC once per sf dir, read it back
  // under the source's declared schema, project every column. The
  // oracle reads the ORIGINAL parquet, so the hash match is the
  // fidelity proof across the parquet→ORC→parquet type bridge
  // (string/long/nullable survive; ORC's own stats/stripes are
  // exercised by the read). Columnar on both ends: the read prunes
  // and pushes down like any file scan (OrcSpec pins that too).
  private val orcDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q96_orc_roundtrip: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val dir = orcDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_q96_orc_").toString + "/docs"
      docs.write.mode("overwrite").orc(p)
      p
    })
    graft.sources.Sources.orc(s, dir, docs.schema)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // q95 balanced temperature mixture — [[Sampling.temperatureFracs]] at
  // T=0 feeding the stratified sampler: every source downsampled to the
  // smallest source's size in expectation (frac = minCount/count), the
  // "uniform over domains" end of the temperature dial. T=0 is ALSO the
  // bit-portable point: the frac is one IEEE division (correctly
  // rounded in every engine), so the DuckDB oracle recomputes counts,
  // fractions and hex thresholds exactly — pow-based temperatures
  // between the endpoints are spec-checked (OpsSpec) instead, because
  // pow is not correctly-rounded across libms and a last-ulp difference
  // could flip a threshold floor.
  val q95_balanced_mixture: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("source").isNotNull)
      .select(col("doc_id"), col("source"))
    Sampling.stratifiedSample(docs, "doc_id", "source",
        Sampling.temperatureFracs(docs, "source", 0.0))
      .orderBy(col("doc_id"))
  }

  // q92 deterministic training-order shuffle: salted-md5 key, 8
  // hex-bound shards, dense within-shard rank — reading shards in id
  // order and rows in pos order IS the reproducible shuffled order
  // (the post-packing step of every training recipe).
  val q92_training_order: Q = (s, d) =>
    Sampling.trainingOrder(t(s, d, "documents").select(col("doc_id")),
        "doc_id", nShards = 8)
      .orderBy(col("doc_id"))

  // q93 the END-TO-END curation pipeline — the chained job the families
  // exist for, as ONE DataFrame program (graft.ops.Curation.curate):
  // q74 screens → q62 exact-dedup vs the %4==0 standing corpus
  // (persisted key index, memoized per sf dir like q57/q62/q91) → q88
  // span excision → q50 decontamination vs the %10==0 benchmark slice
  // (benchmark members drop outright) → q58 token-budget sample → q52
  // pack → q92 training order. The oracle chains the stages' own SQL
  // fragments over the same slices.
  private val pipeKeyDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def pipeKeyDir(s: SparkSession, d: String): String =
    pipeKeyDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q93_keys_").toString
      Dedup.buildExactKeyIndex(t(s, d, "documents").filter(col("doc_id") % 4 === 0),
        "text", p)
      p
    })
  val q93_curation_pipeline: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val keyDir = pipeKeyDir(s, d)
    Curation.curate(s, docs.where(col("doc_id") % 4 =!= 0),
        "doc_id", "text", "source",
        keyIndexPath = Some(keyDir),
        benchmark = Some(docs.where(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"))),
        cfg = Curation.Config(budgets = tokenBudgets))
      .orderBy(col("doc_id"))
  }

  // q115 the composed pipeline ending at TOKEN IDS — q93's stages 1–4
  // over the same slices, then budget sampling in the BPE currency and
  // packTokens: the pipeline's real terminal (training-ready array<int>
  // sequences). The oracle chains q93's decon CTEs into q113's id
  // machinery.
  val q115_curate_token_ids: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val keyDir = pipeKeyDir(s, d)
    serializeIdArrays(
      Curation.curateTokens(s, docs.where(col("doc_id") % 4 =!= 0),
          "doc_id", "text", "source",
          keyIndexPath = Some(keyDir),
          benchmark = Some(docs.where(col("doc_id") % 10 === 0)
            .select(col("doc_id"), col("text"))),
          cfg = Curation.Config(budgets = tokenBudgets),
          graft.functions.TokenCounters.tinyBpe),
      "token_ids", "doc_starts")
      .orderBy(col("source"), col("seq_id"))
  }

  // q50 Bloom-prefiltered decontamination: row-identical to the exact
  // overlap (no false negatives + exact verify join), but the corpus
  // shuffles only Bloom survivors — the broadcast runtime-filter shape.
  // Benchmark slice = doc_id ≡ 0 mod 10 (distinct from q44's mod-20 so
  // the two queries exercise different overlap sets).
  val q50_bloom_decontaminate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", w = 3)
      .orderBy(col("doc_id"))
  }

  // q51 Gopher repetition signals: duplicate/top 2-gram and 3-gram
  // fractions as one codegen'd projection (zero exchange).
  val q51_repetition_signals: Q = (s, d) =>
    TextAnalysis.repetitionSignals(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q54 IVF k-NN JOIN: top-10 corpus neighbours for every 100th vector —
  // batch ANN as one job (cell equi-join + per-query window), the
  // embedding retrieval/dedup primitive. Deterministic → hash-checked.
  val q54_ivf_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.ivfKnnJoin(
        emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 3)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q56 LSH k-NN JOIN: the hyperplane-bucket twin of q54 — every 100th
  // vector probes its bucket + hamming-1 neighbours in one equi-join.
  val q56_lsh_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    Similarity.lshKnnJoin(
        emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, dim = 64, nBits = 6)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q57 IVF INDEX k-NN join: q54's batch retrieval served from the
  // PERSISTED cell-partitioned layout — the standing-corpus form. The
  // index is built once per corpus dir (memoized: in a real pipeline the
  // layout is an input, not per-query work) with the same md5-ordered
  // seed centroids as q54, so the probe results hash-check against q54's
  // oracle verbatim. The index scan prunes non-probed cell directories
  // (DPP, or the self-repaired static IN-list).
  private val ivfIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfIndexDir(s: SparkSession, d: String): String =
    ivfIndexDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q57_ivfidx_").toString
      Similarity.buildIvfIndex(t(s, d, "embeddings"), "vec_id", "embedding", p,
        nCells = 16)
      p
    })
  val q57_ivf_index_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = ivfIndexDir(s, d)
    Similarity.ivfIndexKnnJoin(s, dir, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nProbe = 3)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q61 QUANTIZED IVF-index k-NN join: q57's batch retrieval served from
  // the int8 layout ([[Similarity.buildIvfIndexQuantized]]) — identical
  // cell geometry (assignment happens before quantizing), ranks are the
  // q59 scale-free quantized cosine, and the probed scan reads byte
  // arrays 4× narrower than the float index. Memoized per corpus dir
  // like q57 (a standing index is an input, not per-query work).
  private val ivfQIndexDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfQIndexDir(s: SparkSession, d: String): String =
    ivfQIndexDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q61_ivfqidx_").toString
      Similarity.buildIvfIndexQuantized(t(s, d, "embeddings"), "vec_id", "embedding", p,
        nCells = 16)
      p
    })
  val q61_ivf_quantized_knn_join: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val dir = ivfQIndexDir(s, d)
    Similarity.ivfIndexQuantizedKnnJoin(s, dir, "vec_id",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 10, nProbe = 3)
      .orderBy(col("q_id"), col("vec_id"))
  }

  // q62 incremental exact-dedup: a new dump (doc_id % 3 = 0) screened
  // against the standing corpus's persisted key index (doc_id % 2 = 0) —
  // the re-ingest admission gate. The overlap (doc_id % 6 = 0) is real:
  // those rows ARE the corpus rows, the re-crawl case. Bloom prefilter
  // clears definitely-new rows in the scan; the exact verify never
  // shuffles the corpus keys (broadcast semi-join). Memoized like the
  // vector indexes — a standing index is an input, not per-query work.
  private val exactKeyDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  val q62_incremental_dedup: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val dir = exactKeyDirs.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_q62_keys_").toString
      Dedup.buildExactKeyIndex(docs.filter(col("doc_id") % 2 === 0), "text", p)
      p
    })
    Dedup.exactDedupAgainstIndex(s, docs.filter(col("doc_id") % 3 === 0), "text", dir)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  // q63 corpus vocabulary: top-20 whitespace tokens by frequency (ties to
  // token order), minCount floor — one map-side-combined exchange, then
  // TakeOrderedAndProject. Sorted by token on output (the top-20 SET is
  // what the query pins; the oracle re-sorts the same set).
  val q63_vocab: Q = (s, d) =>
    TextAnalysis.vocab(t(s, d, "documents"), "text", minCount = 5, topN = 20)
      .orderBy(col("token"))

  // q64 bigram collocations by PMI ratio: adjacent pairs co-occurring
  // more than their unigram frequencies predict — log-free ratio so the
  // oracle hash-matches (ln is not correctly-rounded across engines).
  val q64_collocations: Q = (s, d) =>
    TextAnalysis.collocations(t(s, d, "documents"), "text",
        minCount = 5, topN = 50)
      .orderBy(col("w1"), col("w2"))

  // q67 strict-order funnel over the events stream: view → click →
  // purchase, sequential-min semantics (each step strictly after the
  // user's earliest completion of the previous one).
  val q67_funnel: Q = (s, d) =>
    Analytics.funnel(t(s, d, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy(col("step"))

  // q68 key-skew report: the 10 hottest customers of the orders table
  // with counts and corpus share — the salting-decision measurement.
  val q68_skew_report: Q = (s, d) =>
    Analytics.skewReport(t(s, d, "orders"), "o_custkey", topK = 10)
      .orderBy(col("cnt").desc, col("o_custkey"))

  // q69 hashing-trick featurizer: each doc's 32-bucket token-multiplicity
  // vector (one-pass HashEmbed expression — zero shuffle; the explode +
  // groupBy form would shuffle every token occurrence), emitted sparse
  // (doc_id, bucket, cnt) for the oracle compare. The md5-derived bucket
  // is engine-portable, so even bucket assignment hash-checks.
  val q69_hash_embed: Q = (s, d) =>
    t(s, d, "documents").where(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.VectorFunctions.hashEmbed(col("text"), 32))
          .as(Seq("bucket", "cnt")))
      .where(col("cnt") > 0)
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
        col("cnt").cast("long").as("cnt"))
      .orderBy(col("doc_id"), col("bucket"))

  // q70 text k-NN without an embedder: q69's hash vectors fed straight
  // into the brute-force cosine ranker — the composition the featurizer
  // exists for (raw text into the whole similarity family). Counts are
  // integer-valued, so dot products and norms² are EXACT doubles
  // whatever the summation order — the oracle can rank from the sparse
  // (bucket, cnt) form and still hash-match.
  val q70_text_knn: Q = (s, d) => {
    val hashed = t(s, d, "documents")
      .where(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col("doc_id"),
        graft.functions.VectorFunctions.hashEmbed(col("text"), 64).as("hvec"))
    Similarity.bruteForceTopK(hashed, "doc_id", "hvec", queryId = 0L, k = 10)
      .orderBy(col("doc_id"))
  }

  // q71 retention cohorts: first-event week × whole-week activity offset
  // × distinct users — the funnel's companion audit over the events
  // stream.
  val q71_retention: Q = (s, d) =>
    Analytics.retention(t(s, d, "events"), "user_id", "ts")
      .orderBy(col("cohort_week"), col("week_offset"))

  // q73 bigram-LM self-perplexity: add-0.5-smoothed bigram model trained
  // on the corpus, every doc scored by average bits per bigram — the
  // statistical quality filter (both tails trim: degenerate-templated
  // low, incoherent high).
  val q73_lm_score: Q = (s, d) =>
    TextAnalysis.bigramLmScore(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q74 the composed cleaning pass — the flagship pipeline shape: every
  // doc gets a keep-decision table from three independently-oracle'd
  // screens (exact-dedup representative, span-pressure, quality floor),
  // and `keep` is their conjunction. One DataFrame, one job; each screen
  // is the same operator the standalone query checks.
  val q74_clean_corpus: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val reps = Dedup.exact(docs, "doc_id", "text")
      .select(col("doc_id"), lit(1L).as("keep_exact"))
    val span = Dedup.dupSpanFrac(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("keep_span"))
    // the quality flag is a pure per-row projection (qualityCol — the
    // same expression qualityScore wraps), so it rides the main branch
    // inline instead of a build-and-join-back (one less corpus pass +
    // join; identical values — every docs row is scored, so the old
    // left-join coalesce(_, 0) branch never fired)
    docs.select(col("doc_id"),
        when(TextAnalysis.qualityCol(col("text")) >= 0.5, 1L).otherwise(0L)
          .as("keep_quality"))
      .join(reps, Seq("doc_id"), "left")
      .join(span, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keep_exact"), lit(0L)).as("keep_exact"),
        // a doc with no shareable spans has nothing duplicated
        coalesce(col("keep_span"), lit(1L)).as("keep_span"),
        col("keep_quality"))
      .withColumn("keep",
        (col("keep_exact") === 1 && col("keep_span") === 1 &&
          col("keep_quality") === 1).cast("long"))
      .orderBy(col("doc_id"))
  }

  // q75 TF-IDF top terms per doc — keyword/topic signal for domain
  // tagging and mixture labeling (smooth log2 idf, top-3 per doc).
  val q75_tfidf: Q = (s, d) =>
    TextAnalysis.tfidf(t(s, d, "documents"), "doc_id", "text", perDoc = 3)
      .orderBy(col("doc_id"), col("score").desc, col("token"))

  // q76 BM25 retrieval for a fixed query-term bag — the lexical-search
  // audit primitive (top-20 docs, Lucene idf, k1=1.2 b=0.75).
  val q76_bm25: Q = (s, d) =>
    TextAnalysis.bm25(t(s, d, "documents"), "doc_id", "text",
      queryTerms = Seq("spark", "query", "join", "window"))

  // q77 asymmetric shingle containment — the sub-document duplication
  // screen Jaccard misses (short doc quoted inside a long one).
  val q77_containment: Q = (s, d) =>
    Dedup.containment(t(s, d, "documents"), "doc_id", "text",
        w = 3, threshold = 0.5)
      .orderBy(col("d1"), col("d2"))

  // q78 per-source corpus data card — the source-triage audit: doc/dup/
  // token/length/language summary per source, corpus-wide dup keys.
  val q78_data_card: Q = (s, d) =>
    Analytics.dataCard(t(s, d, "documents"), "doc_id", "text",
      "source", "lang", "n_chars")

  // q79 corpus-driven stop-token pruning — boilerplate trimming: top-10
  // corpus tokens removed from every doc, order preserved.
  val q79_stop_prune: Q = (s, d) =>
    TextAnalysis.pruneTopTokens(t(s, d, "documents"), "doc_id", "text",
        stopN = 10)
      .orderBy(col("doc_id"))

  // q80 SemDeDup: IVF-cell clustering + within-cell cosine screen —
  // semantic near-dup keep-list (paraphrases that share no tokens).
  val q80_semdedup: Q = (s, d) =>
    Similarity.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        nCells = 16, tau = 0.4)
      .orderBy(col("vec_id"))

  // q82 IVF cell-balance profile — the index-health audit that sizes
  // nCells and flags hot/empty cells before a layout is committed.
  val q82_ivf_cell_profile: Q = (s, d) =>
    Similarity.ivfCellProfile(t(s, d, "embeddings"), "vec_id", "embedding",
        nCells = 16)

  // q83 per-label embedding data card — missing payloads, mixed dims,
  // zero norms, mean L2 per label (q78's vector-side twin).
  val q83_embedding_card: Q = (s, d) =>
    Similarity.embeddingCard(t(s, d, "embeddings"), "vec_id", "embedding",
        "label")

  // q85 batch BM25 retrieval join — every-100th doc as the query side
  // (the q56 pattern), top-10 corpus docs per query; the lexical twin of
  // the k-NN joins and the decontamination-by-retrieval form.
  val q85_bm25_join: Q = (s, d) => {
    val docs = t(s, d, "documents")
    TextAnalysis.bm25Join(docs, "doc_id", "text",
        docs.where(col("doc_id") % 100 === 0), "doc_id", "text")
      .orderBy(col("q_id"), col("score").desc, col("doc_id"))
  }

  // q89 the capped form of q85 — maxDfFrac 0.8 drops stopword-grade
  // postings AFTER df (surviving weights bit-identical; the Zipfian
  // bench's 3.6× scale lever), oracle-checked so the cut semantics are
  // pinned cross-engine, not just spec-asserted.
  val q89_bm25_join_capped: Q = (s, d) => {
    val docs = t(s, d, "documents")
    TextAnalysis.bm25Join(docs, "doc_id", "text",
        docs.where(col("doc_id") % 100 === 0), "doc_id", "text",
        maxDfFrac = 0.8)
      .orderBy(col("q_id"), col("score").desc, col("doc_id"))
  }

  // q86 retrieval-based decontamination — the third screen beside
  // n-gram overlap (q44) and Bloom-exact (q50): drop corpus docs that
  // rank top-3 for any benchmark item (every-100th doc as benchmark).
  val q86_retrieval_decontaminate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    TextAnalysis.retrievalDecontaminate(docs, "doc_id", "text",
        docs.where(col("doc_id") % 100 === 0), "doc_id", "text", topN = 3)
      .orderBy(col("doc_id"))
  }

  // q87 quality-curriculum sample: q34's quality score drives band-wise
  // retention (band b of 10 keeps b/10 by md5 coin) — keep a sliver of
  // the low end, everything at the top.
  val q87_curriculum_sample: Q = (s, d) => {
    val qual = TextAnalysis.qualityScore(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("quality"))
    Sampling.scoreCurriculum(qual, "doc_id", "quality", nBands = 10)
      .orderBy(col("doc_id"))
  }

  // q84 cross-source SEMANTIC contamination matrix — q65's rollup over
  // q80's pairs: where paraphrase-level duplication lives between
  // sources (two dumps re-rendering the same pages), the audit that
  // catches double-counting no lexical matrix can see.
  val q84_semantic_contamination: Q = (s, d) => {
    val pairs = Similarity.semPairs(t(s, d, "embeddings"), "vec_id",
      "embedding", nCells = 16, tau = 0.4)
    val src = t(s, d, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("_s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("_s2")), "d2")
      .select(least(col("_s1"), col("_s2")).as("src_a"),
        greatest(col("_s1"), col("_s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // q81 the MULTIMODAL cleaning pass: q74's three text screens plus
  // q80's semantic screen joined across modalities on the doc↔vec id —
  // the keep-decision a text+embedding corpus actually wants. Docs with
  // no (non-empty) embedding default to keep_semantic = 1: absence of a
  // vector is not evidence of duplication.
  val q81_clean_corpus_multimodal: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
    val reps = Dedup.exact(docs, "doc_id", "text")
      .select(col("doc_id"), lit(1L).as("keep_exact"))
    val span = Dedup.dupSpanFrac(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("keep_span"))
    val sem = Similarity.semDedup(t(s, d, "embeddings"), "vec_id",
        "embedding", nCells = 16, tau = 0.4)
      .select(col("vec_id").as("doc_id"), col("keep").as("keep_semantic"))
    // quality flag inlined on the main branch (the q74 rationale): a
    // pure per-row projection needs no build-and-join-back pass
    docs.select(col("doc_id"),
        when(TextAnalysis.qualityCol(col("text")) >= 0.5, 1L).otherwise(0L)
          .as("keep_quality"))
      .join(reps, Seq("doc_id"), "left")
      .join(span, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("keep_exact"), lit(0L)).as("keep_exact"),
        coalesce(col("keep_span"), lit(1L)).as("keep_span"),
        col("keep_quality"),
        coalesce(col("keep_semantic"), lit(1L)).as("keep_semantic"))
      .withColumn("keep",
        (col("keep_exact") === 1 && col("keep_span") === 1 &&
          col("keep_quality") === 1 && col("keep_semantic") === 1)
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  // q55 exact-size stratified sample: deterministically exactly 10 docs
  // per source (md5-rank order) — fixed-size eval subsets per domain.
  val q55_exact_size_sample: Q = (s, d) =>
    Sampling.exactSizeSample(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", n = 10)
      .orderBy(col("doc_id"))

  // q53 dedup keep-list: q42's clusters resolved to keep/drop per doc —
  // the highest-quality member of each near-dup cluster survives (ties
  // to the lowest id). The end-to-end dedup decision: pairs → clusters →
  // representative selection.
  val q53_dedup_keep: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
      w = 3, k = 8, bands = 4, threshold = 0.5)
    val clusters = Dedup.componentsStar(pairs.select(col("d1"), col("d2")))
    val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality"))
    Dedup.representatives(clusters, quality, "quality")
      .orderBy(col("doc_id"))
  }

  // q52 sequence packing: concat-and-chunk layout of each source shard's
  // token stream into 512-token training sequences — one window shuffle
  // per shard, exact integer math (hash-checked).
  val q52_pack: Q = (s, d) => {
    val docs = t(s, d, "documents").where(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.VectorFunctions.tokenCountsStruct(col("text"))
          .getField("ws_tokens").as("n_tokens"))
    Packing.pack(docs, "doc_id", "n_tokens", "source", seqLen = 512)
      .orderBy(col("doc_id"))
  }

  // q40 winnowing fingerprints (SWA '03): guarantee-t local-similarity
  // screen, hash-checked against a DuckDB list-HOF twin.
  val q40_winnow: Q = (s, d) =>
    TextAnalysis.winnow(t(s, d, "documents"), "doc_id", "text", k = 8, t = 16)
      .orderBy(col("doc_id"), col("fp"))

  val q33_langid: Q = (s, d) =>
    TextAnalysis.languageId(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q34 quality scoring.
  val q34_quality: Q = (s, d) =>
    TextAnalysis.qualityScore(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q35 token counting (whitespace + BPE-ish pre-tokenizer regex).
  val q35_token_count: Q = (s, d) =>
    TextAnalysis.tokenCounts(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q36 content fingerprinting.
  val q36_fingerprint: Q = (s, d) =>
    TextAnalysis.fingerprint(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  // q37 multimodal metadata extraction over a binary payload column
  // (mapPartitions plumbing; decoder stubbed — see graft.ops.Multimodal).
  val q37_multimodal_meta: Q = (s, d) => {
    val bin = Multimodal.withBinaryPayload(t(s, d, "documents"), "doc_id", "text")
    Multimodal.extractMeta(s, bin).toDF().orderBy(col("doc_id"))
  }

  // q38 sessionization (gaps-and-islands; batch twin of session_window).
  val q38_sessionize: Q = (s, d) =>
    Sessionize(t(s, d, "events"), "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("sess"))

  val all: Map[String, Q] = Map(
    "q27_dedup_exact" -> q27_dedup_exact,
    "q28_dedup_minhash_lsh" -> q28_dedup_minhash_lsh,
    "q29_dedup_simhash" -> q29_dedup_simhash,
    "q30_dedup_ngram_jaccard" -> q30_dedup_ngram_jaccard,
    "q31_neardup_embedding" -> q31_neardup_embedding,
    "q32_ann_lsh" -> q32_ann_lsh,
    "q33_langid" -> q33_langid,
    "q34_quality" -> q34_quality,
    "q35_token_count" -> q35_token_count,
    "q36_fingerprint" -> q36_fingerprint,
    "q37_multimodal_meta" -> q37_multimodal_meta,
    "q38_sessionize" -> q38_sessionize,
    "q39_ann_ivf" -> q39_ann_ivf,
    "q40_winnow" -> q40_winnow,
    "q41_dedup_clusters" -> q41_dedup_clusters,
    "q42_dedup_clusters_star" -> q42_dedup_clusters_star,
    "q43_sql_surface" -> q43_sql_surface,
    "q44_decontaminate" -> q44_decontaminate,
    "q45_pii_redact" -> q45_pii_redact,
    "q46_quality_signals" -> q46_quality_signals,
    "q47_train_split" -> q47_train_split,
    "q48_mixture_sample" -> q48_mixture_sample,
    "q49_dup_span_frac" -> q49_dup_span_frac,
    "q50_bloom_decontaminate" -> q50_bloom_decontaminate,
    "q51_repetition_signals" -> q51_repetition_signals,
    "q52_pack" -> q52_pack,
    "q52b_pack_bpe" -> q52b_pack_bpe,
    "q53_dedup_keep" -> q53_dedup_keep,
    "q54_ivf_knn_join" -> q54_ivf_knn_join,
    "q55_exact_size_sample" -> q55_exact_size_sample,
    "q56_lsh_knn_join" -> q56_lsh_knn_join,
    "q57_ivf_index_knn_join" -> q57_ivf_index_knn_join,
    "q58_token_budget_sample" -> q58_token_budget_sample,
    "q58b_token_budget_bpe" -> q58b_token_budget_bpe,
    "q59_quantized_topk" -> q59_quantized_topk,
    "q61_ivf_quantized_knn_join" -> q61_ivf_quantized_knn_join,
    "q62_incremental_dedup" -> q62_incremental_dedup,
    "q63_vocab" -> q63_vocab,
    "q64_collocations" -> q64_collocations,
    "q65_contamination_matrix" -> q65_contamination_matrix,
    "q66_upsample_epochs" -> q66_upsample_epochs,
    "q67_funnel" -> q67_funnel,
    "q68_skew_report" -> q68_skew_report,
    "q69_hash_embed" -> q69_hash_embed,
    "q70_text_knn" -> q70_text_knn,
    "q71_retention" -> q71_retention,
    "q73_lm_score" -> q73_lm_score,
    "q74_clean_corpus" -> q74_clean_corpus,
    "q75_tfidf" -> q75_tfidf,
    "q76_bm25" -> q76_bm25,
    "q77_containment" -> q77_containment,
    "q78_data_card" -> q78_data_card,
    "q79_stop_prune" -> q79_stop_prune,
    "q80_semdedup" -> q80_semdedup,
    "q81_clean_corpus_multimodal" -> q81_clean_corpus_multimodal,
    "q82_ivf_cell_profile" -> q82_ivf_cell_profile,
    "q83_embedding_card" -> q83_embedding_card,
    "q84_semantic_contamination" -> q84_semantic_contamination,
    "q85_bm25_join" -> q85_bm25_join,
    "q86_retrieval_decontaminate" -> q86_retrieval_decontaminate,
    "q87_curriculum_sample" -> q87_curriculum_sample,
    "q88_excise_spans" -> q88_excise_spans,
    "q89_bm25_join_capped" -> q89_bm25_join_capped,
    "q90_collapse_repeats" -> q90_collapse_repeats,
    "q91_excise_against_index" -> q91_excise_against_index,
    "q92_training_order" -> q92_training_order,
    "q93_curation_pipeline" -> q93_curation_pipeline,
    "q94_jsonl_roundtrip" -> q94_jsonl_roundtrip,
    "q95_balanced_mixture" -> q95_balanced_mixture,
    "q96_orc_roundtrip" -> q96_orc_roundtrip,
    "q97_boilerplate_lines" -> q97_boilerplate_lines,
    "q98_chunk_docs" -> q98_chunk_docs,
    "q99_lines_against_index" -> q99_lines_against_index,
    "q100_pq_topk" -> q100_pq_topk,
    "q101_pq_index_topk" -> q101_pq_index_topk,
    "q102_ann_recall" -> q102_ann_recall,
    "q103_ivfpq_topk" -> q103_ivfpq_topk,
    "q104_pq_knn_join" -> q104_pq_knn_join,
    "q105_pq_index_knn_join" -> q105_pq_index_knn_join,
    "q106_ivfpq_index_knn_join" -> q106_ivfpq_index_knn_join,
    "q107_pq_rerank_topk" -> q107_pq_rerank_topk,
    "q108_pq_rerank_knn_join" -> q108_pq_rerank_knn_join,
    "q109_ivfpq_residual_topk" -> q109_ivfpq_residual_topk,
    "q110_ivfpq_residual_knn_join" -> q110_ivfpq_residual_knn_join,
    "q111_ivf_rebuild_drift" -> q111_ivf_rebuild_drift,
    "q112_ivfpq_rerank_knn_join" -> q112_ivfpq_rerank_knn_join,
    "q113_pack_token_ids" -> q113_pack_token_ids,
    "q114_code_rebuild_drift" -> q114_code_rebuild_drift,
    "q115_curate_token_ids" -> q115_curate_token_ids,
    "q116_cross_ppl" -> q116_cross_ppl,
    "q117_nb_quality" -> q117_nb_quality,
    "q118_token_card" -> q118_token_card,
    "q119_dsir_resample" -> q119_dsir_resample,
    "q120_ppl_partition" -> q120_ppl_partition,
    "q121_score_audit" -> q121_score_audit,
    "q122_tokenizer_fertility" -> q122_tokenizer_fertility,
    "q123_cell_balanced_sample" -> q123_cell_balanced_sample,
    "q124_hard_negatives" -> q124_hard_negatives,
    "q125_knn_classify" -> q125_knn_classify,
    "q126_cap_per_source" -> q126_cap_per_source,
    "q127_group_split" -> q127_group_split,
    "q128_hard_negatives_ivf" -> q128_hard_negatives_ivf,
    "q129_knn_autolabel" -> q129_knn_autolabel,
    "q130_label_noise" -> q130_label_noise,
    "q131_random_project" -> q131_random_project,
    "q132_proj_knn_rerank" -> q132_proj_knn_rerank,
    "q133_mixture_plan" -> q133_mixture_plan,
    "q134_mixture_sample" -> q134_mixture_sample,
    "q135_distribution_drift" -> q135_distribution_drift,
    "q136_corpus_diff" -> q136_corpus_diff,
    "q137_label_noise_ivf" -> q137_label_noise_ivf,
    "q138_numeric_drift" -> q138_numeric_drift,
    "q139_dedup_recall" -> q139_dedup_recall,
    "q140_dedup_screen" -> q140_dedup_screen,
    "q141_token_budget_prefix" -> q141_token_budget_prefix,
    "q142_containment_recall" -> q142_containment_recall,
    "q143_url_canonicalize" -> q143_url_canonicalize,
    "q144_normalize_text" -> q144_normalize_text,
    "q145_html_to_text" -> q145_html_to_text,
    "q146_gopher_filter" -> q146_gopher_filter,
    "q147_leak_free_split" -> q147_leak_free_split,
    "q148_web_intake" -> q148_web_intake,
    "q149_gopher_report" -> q149_gopher_report,
    "q150_domain_blocklist" -> q150_domain_blocklist,
    "q151_segment_paragraphs" -> q151_segment_paragraphs,
    "q152_remove_paragraphs" -> q152_remove_paragraphs,
    "q153_warc_responses" -> q153_warc_responses,
    "q154_paras_against_index" -> q154_paras_against_index,
    "q155_intake_curation" -> q155_intake_curation,
    "q156_warc_charset_profile" -> q156_warc_charset_profile,
    "q157_crawl_token_ids" -> q157_crawl_token_ids,
    "q158_crawl_digest_dedup" -> q158_crawl_digest_dedup,
    "q159_crawl_latest_fetch" -> q159_crawl_latest_fetch,
    "q160_key_index_card" -> q160_key_index_card,
    "q161_redacted_curation" -> q161_redacted_curation,
    "q162_robots_gate" -> q162_robots_gate,
    "q163_robots_profile" -> q163_robots_profile,
    "q164_language_curation" -> q164_language_curation,
    "q165_crawl_recipe" -> q165_crawl_recipe,
    "q166_verified_digest_dedup" -> q166_verified_digest_dedup)
}
