package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import BenchHarness.{runNoop, time}

/** Scale-proof for the retrieval family (q75 tfidf / q76 bm25 / q85
  * bm25Join / q86 retrievalDecontaminate) on a ZIPFIAN corpus at
  * sf1-equivalent volume — the shape the per-round sf0.1 bench cannot
  * exercise: its fixture has a ~200-token vocabulary, which makes the
  * query-vocab semi-join prefilter a no-op and hides hot-token skew
  * entirely (round-6 verdict: the family's 100 TB story was asserted,
  * not measured).
  *
  * The corpus is synthesized in-plan: per (doc, slot), a deterministic
  * xxhash64-seeded uniform drives the bounded-Pareto inverse CDF
  *
  *   rank(u) = (1 − u + u·V^(1−s))^(1/(1−s)),  s = 1.1, V = vocab size
  *
  * — the continuous Zipf(1.1) approximation, so token 't1' lands in
  * nearly every document (the stopword-grade degenerate case the
  * round-6 verdict flagged for the df computation).
  *
  * Measurements:
  *
  *  1. **df microbench** — the contested operation in isolation, on the
  *     (doc, token, tf) posting table: the ROUND-6 form (count window
  *     partitioned by token: every posting of 't1' on ONE reducer,
  *     unsplittable) vs the ROUND-7 form (two-level map-side-combined
  *     groupBy + join-back: partial rows per (mapper, token), AQE
  *     broadcast/skew-splittable). Plus the hottest token's posting
  *     count as the skew witness.
  *  2. **End-to-end family** — tfidf, bm25 (hot + rare terms in one
  *     bag), bm25Join and retrievalDecontaminate against a
  *     decontamination-sized benchmark drawn from the same
  *     distribution (so query bags contain hot tokens).
  *
  * The [[ScaleBench]] family `retrieval`; recorded in BASELINE.md's
  * retrieval section.
  */
object RetrievalBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    val nDocs = BenchHarness.env("SPARK_GRAFT_DOCS", "75000").toLong
    val vocab = BenchHarness.env("SPARK_GRAFT_VOCAB", "50000").toInt
    val docLen = BenchHarness.env("SPARK_GRAFT_DOCLEN", "200").toInt
    val nQueries = BenchHarness.env("SPARK_GRAFT_QUERIES", "500").toLong
    val qLen = 20

    // Zipf(1.1) token for (id, slot, salt): bounded-Pareto inverse CDF
    // over ranks lo..V, driven by a deterministic per-slot uniform.
    val s = 1.1
    def zipfTokens(idCol: String, len: Int, salt: Int,
                   lo: Int = 1): org.apache.spark.sql.Column = {
      val loPow = math.pow(lo.toDouble, 1.0 - s)
      val vPow = math.pow(vocab.toDouble, 1.0 - s) // V^(1-s) < lo^(1-s)
      expr(
        s"""transform(sequence(1, $len), j ->
           |  concat('t', cast(pow(
           |    ${loPow}d - (pmod(xxhash64($idCol, j, $salt), 1000000000L) / 1.0e9d)
           |         * (${loPow}d - ${vPow}d),
           |    ${1.0 / (1.0 - s)}d) as bigint)))""".stripMargin)
    }

    val corpus = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", zipfTokens("id", docLen, 1)).as("text"))
      .repartition(ctx.cpus)
      .localCheckpoint(true)
    def queries(salt: Int, lo: Int = 1) = spark.range(nQueries)
      .select(col("id").as("q_id"),
        concat_ws(" ", zipfTokens("id", qLen, salt, lo)).as("q_text"))
      .localCheckpoint(true)
    val benchmark = queries(2)
    // realistic benchmark items: tokens from ranks ≥ 40 — ABOVE the
    // maxDfFrac=0.5 cut, which in THIS corpus reaches rank ~31 (the
    // truncated inverse CDF fattens the head well past the analytic
    // Zipf estimate: measured df(20) = 49.8k, df(30) = 38.3k,
    // df(40) = 30.2k vs the 37.5k cut) — the way real eval questions
    // carry discriminative terms, not stopword bags
    val benchmarkTail = queries(3, lo = 40)
    corpus.count(); benchmark.count(); benchmarkTail.count()

    // ── 1. df microbench on the posting table ────────────────────────
    val tf = corpus
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val nPostings = tf.count()
    // skew witness: the hottest token's document frequency
    val hot = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc).limit(1).collect()(0)
    val (dfWindow, tDfWindow) = time {
      tf.withColumn("_df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
        .agg(sum(col("_df"))).collect()(0).getLong(0)
    }
    val (dfTwoLevel, tDfTwoLevel) = time {
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
      tf.join(dfreq, "token")
        .agg(sum(col("_df"))).collect()(0).getLong(0)
    }
    assert(dfWindow == dfTwoLevel,
      s"df forms must agree: window=$dfWindow twoLevel=$dfTwoLevel")

    // ── 2. end-to-end family ─────────────────────────────────────────
    val tTfidf = runNoop(graft.ops.TextAnalysis.tfidf(corpus, "doc_id", "text"))
    // hot (t1, t3) + mid + rare terms in one bag
    val tBm25 = runNoop(graft.ops.TextAnalysis.bm25(corpus, "doc_id", "text",
      queryTerms = Seq("t1", "t3", "t120", "t9999")))
    // the hot-term throttle: stopword-grade terms (df > N/2 — the ~14
    // hottest ranks of this Zipf) dropped after df; surviving weights
    // bit-identical. Each variant runs ONCE — the timed collect also
    // yields the top set for the agreement measure.
    def runJoin(queries: DataFrame, maxDfFrac: Double): (Set[(Long, Long)], Double) =
      time {
        graft.ops.TextAnalysis.bm25Join(corpus, "doc_id", "text",
            queries, "q_id", "q_text", maxDfFrac = maxDfFrac)
          .select(col("q_id"), col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    val (exactTop, tJoin) = runJoin(benchmark, 1.0)
    val (cappedTop, tJoinCap) = runJoin(benchmark, 0.5)
    val overlap = (exactTop & cappedTop).size.toDouble / exactTop.size
    // the discriminative-query case: terms sit above the cut, so the
    // cap should cost (almost) no agreement
    val (exactTail, tTailExact) = runJoin(benchmarkTail, 1.0)
    val (cappedTail, tTailCap) = runJoin(benchmarkTail, 0.5)
    val overlapTail = (exactTail & cappedTail).size.toDouble / exactTail.size
    val tDecon = runNoop(graft.ops.TextAnalysis.retrievalDecontaminate(
      corpus, "doc_id", "text", benchmark, "q_id", "q_text"))

    ("bench" -> "retrieval_zipf") ~ ("n_docs" -> nDocs) ~ ("vocab" -> vocab) ~
      ("doc_len" -> docLen) ~ ("n_queries" -> nQueries) ~
      ("n_postings" -> nPostings) ~
      ("hot_token" -> hot.getString(0)) ~ ("hot_df" -> hot.getLong(1)) ~
      ("df_window_s" -> tDfWindow) ~ ("df_two_level_s" -> tDfTwoLevel) ~
      ("tfidf_s" -> tTfidf) ~ ("bm25_s" -> tBm25) ~
      ("bm25_join_s" -> tJoin) ~ ("bm25_join_capped_s" -> tJoinCap) ~
      ("capped_top10_overlap" -> overlap) ~
      ("tail_join_s" -> tTailExact) ~ ("tail_capped_s" -> tTailCap) ~
      ("tail_top10_overlap" -> overlapTail) ~
      ("decontaminate_s" -> tDecon)
  }
}
