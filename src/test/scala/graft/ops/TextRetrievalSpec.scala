package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-6 text-retrieval / corpus-audit family: TF-IDF top terms, BM25
  * retrieval, asymmetric shingle containment, per-source data card,
  * corpus-driven stop-token pruning. Oracle twins live in
  * SparkEntry.oracleSql (q75–q79); these pin the operator semantics on
  * hand-computable fixtures.
  */
class TextRetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("tfidf ranks doc-specific terms above corpus-wide ones") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", perDoc = 2)
      .orderBy(col("doc_id"), col("score").desc, col("token"))
      .as[(Long, String, Long, Double)].collect()
    // N=2; df(a)=2 -> idf=log2(3/3)+1=1; df(b)=df(c)=1 -> idf=log2(1.5)+1
    val idfRare = math.log(1.5) / math.log(2.0) + 1.0
    val r = BigDecimal(idfRare).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(out.toSeq == Seq(
      (1L, "a", 2L, 2.0),      // tf 2 · idf 1 beats tf 1 · idf 1.585
      (1L, "b", 1L, r),
      (2L, "c", 1L, r),        // rare c outranks ubiquitous a
      (2L, "a", 1L, 1.0)))
  }

  test("bigramLmScoreAgainst backs off unseen events into the one smoothing expression") {
    // train "a b a b": c(a,b)=2, c(b,a)=1; c1(a)=c1(b)=2; V=2, k=0.5
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b"), // seen pair:    p = 2.5/3          -> 0.263 bits
      (2L, "a c"), // unseen pair:  p = 0.5/3          -> 2.585 bits
      (3L, "z q"), // unseen w1:    p = 0.5/1 = 1/V    -> 1.000 bits
      (4L, "a"),   // < 2 tokens: absent (the q73 membership contract)
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScoreAgainst(train, score, "doc_id", "text")
      .orderBy(col("doc_id"))
      .as[(Long, Double, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 0.263, 1L, 0L),
      (2L, 2.585, 1L, 1L),
      (3L, 1.0, 1L, 1L)))
  }

  test("bigramLmScoreAgainst ranks out-of-domain above in-domain") {
    val train = Seq((0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug")).toDF("doc_id", "text")
    val score = Seq((10L, "the cat sat on the rug"),
      (11L, "le chat est sur le tapis")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScoreAgainst(train, score, "doc_id", "text")
      .as[(Long, Double, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._2 < out(11L)._2)  // in-domain scores fewer bits
    assert(out(10L)._4 == 0L && out(11L)._4 == 5L) // every foreign bigram OOV
  }

  test("persisted bigram LM reproduces the in-memory cross-scorer bit-for-bit") {
    val train = Seq((0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug")).toDF("doc_id", "text")
    val score = Seq((10L, "the cat sat on the rug"),
      (11L, "le chat est sur le tapis"), (12L, "the"), // <2 tokens: absent
      (13L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val dir = tmpDir("graft_bglm_")
    TextAnalysis.buildBigramLm(spark, train, "text", dir)
    val inMem = TextAnalysis.bigramLmScoreAgainst(train, score, "doc_id", "text")
      .orderBy(col("doc_id")).as[(Long, Double, Long, Long)].collect().toSeq
    val frozen = TextAnalysis.bigramScoreWithModel(spark, score, "doc_id", "text", dir)
      .orderBy(col("doc_id")).as[(Long, Double, Long, Long)].collect().toSeq
    assert(frozen == inMem)
    assert(inMem.map(_._1) == Seq(10L, 11L))
    // a non-LM layout fails fast with the reason
    val bad = intercept[IllegalArgumentException] {
      TextAnalysis.bigramScoreWithModel(spark, score, "doc_id", "text",
        tmpDir("graft_notalm_"))
    }
    assert(bad.getMessage.contains("bigram_lm"))
    // an empty training slice fails fast at build
    val empty = intercept[IllegalArgumentException] {
      TextAnalysis.buildBigramLm(spark,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text",
        tmpDir("graft_bglm0_"))
    }
    assert(empty.getMessage.contains("no tokens"))
  }

  test("bigramLmScore equals the cross-scorer scoring its own training corpus") {
    val docs = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"), (3L, "a cat and a dog sat"),
      (4L, "mat"), // < 2 tokens: absent from both
      (5L, null.asInstanceOf[String]), (6L, "the  cat  sat")).toDF("doc_id", "text")
    val self = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .orderBy(col("doc_id")).as[(Long, Double, Long)].collect().toSeq
    val against = TextAnalysis.bigramLmScoreAgainst(docs, docs, "doc_id", "text")
      .orderBy(col("doc_id")).as[(Long, Double, Long, Long)].collect().toSeq
    assert(self == against.map(r => (r._1, r._2, r._3)))
    assert(self.map(_._1) == Seq(1L, 2L, 3L, 6L))
    // every bigram of the training corpus is in its own table
    assert(against.forall(_._4 == 0L))
  }

  test("perplexityPartition labels the CCNet bands against fixed cuts") {
    // train "a b a b": from the backoff spec, seen pair -> 0.263 bits,
    // unseen pair -> 2.585, unseen w1 -> 1.000
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val score = Seq((1L, "a b"), (2L, "a c"), (3L, "z q"), (4L, "a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.perplexityPartition(train, score, "doc_id", "text",
        loBits = 0.5, hiBits = 2.0)
      .orderBy(col("doc_id"))
      .select("doc_id", "xent_bits", "bucket")
      .as[(Long, Double, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 0.263, "head"), (2L, 2.585, "tail"), (3L, 1.0, "middle")))
    val bad = intercept[IllegalArgumentException] {
      TextAnalysis.perplexityPartition(train, score, "doc_id", "text", 2.0, 2.0)
    }
    assert(bad.getMessage.contains("loBits"))
  }

  test("naiveBayesScore reproduces the hand-computed add-k log-odds") {
    // train: doc1(y=1)="good good", doc2(y=0)="bad"; doc3 unlabeled.
    // c(good,1)=2 c(bad,0)=1, V=2, t1=2 t0=1, N1=N0=1 -> prior 0.
    val docs = Seq(
      (1L, "good good", Some(1)), (2L, "bad", Some(0)),
      (3L, "good bad x", None), (4L, null.asInstanceOf[String], Some(1))
    ).toDF("doc_id", "text", "label")
    val out = TextAnalysis.naiveBayesScore(docs, "doc_id", "text", "label")
      .orderBy(col("doc_id"))
      .as[(Long, Double, Long, Int)].collect()
    def r3(x: Double) =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lgGood = math.log((2.5 / 3.0) / 0.25) / math.log(2.0)   //  1.737
    val lgBad = math.log((0.5 / 3.0) / 0.75) / math.log(2.0)    // -2.170
    val lgX = math.log((0.5 / 3.0) / 0.25) / math.log(2.0)      // -0.585
    assert(out.toSeq == Seq(
      (1L, r3(2 * lgGood), 2L, 1),
      (2L, r3(lgBad), 1L, 0),
      (3L, r3(lgGood + lgBad + lgX), 3L, 0)))  // unlabeled rows still score
  }

  test("naiveBayesScore separates a provenance-planted corpus") {
    val curated = (0L until 20L).map(i => (i, "clear prose with signal", Some(1)))
    val crawl = (20L until 40L).map(i => (i, "spam spam click here", Some(0)))
    val unseen = Seq((100L, "clear prose", None), (101L, "spam click", None))
    val docs = (curated ++ crawl ++ unseen).toDF("doc_id", "text", "label")
    val out = TextAnalysis.naiveBayesScore(docs, "doc_id", "text", "label")
      .as[(Long, Double, Long, Int)].collect().map(r => r._1 -> r._4).toMap
    assert(out(100L) == 1 && out(101L) == 0)
  }

  test("persisted NB model reproduces the in-memory fit bit-for-bit") {
    val docs = Seq(
      (1L, "good clean prose here", Some(1)),
      (2L, "good signal rich text", Some(1)),
      (3L, "spam click bait spam", Some(0)),
      (4L, "bait noise spam junk", Some(0)),
      (5L, "clean prose spam", None)
    ).toDF("doc_id", "text", "label")
    val dir = tmpDir("graft_nb_")
    TextAnalysis.buildNbModel(spark, docs, "text", "label", dir)
    val inMem = TextAnalysis.naiveBayesScore(docs, "doc_id", "text", "label")
      .orderBy(col("doc_id")).as[(Long, Double, Long, Int)].collect().toSeq
    val frozen = TextAnalysis.nbScoreWithModel(spark, docs, "doc_id", "text", dir)
      .orderBy(col("doc_id")).as[(Long, Double, Long, Int)].collect().toSeq
    assert(frozen == inMem)
    assert(inMem.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    // a non-model layout fails fast with the reason
    val bad = intercept[IllegalArgumentException] {
      TextAnalysis.nbScoreWithModel(spark, docs, "doc_id", "text",
        tmpDir("graft_notamodel_"))
    }
    assert(bad.getMessage.contains("nb_model"))
    // single-class training fails fast
    val oneClass = intercept[IllegalArgumentException] {
      TextAnalysis.buildNbModel(spark,
        docs.where(col("label") === 1), "text", "label", tmpDir("graft_nb1_"))
    }
    assert(oneClass.getMessage.contains("both classes"))
  }

  test("bm25 scores the matching doc with the hand-computed okapi value") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "doc_id", "text", Seq("x"))
      .as[(Long, Double)].collect()
    // tf=2 df=1 N=2 dl=3 avgdl=2.5: idf=log2(1+1.5/1.5)=1,
    // score = (2·2.2)/(2 + 1.2·(0.25 + 0.75·3/2.5)) = 4.4/3.38
    assert(out.length == 1 && out.head._1 == 1L)
    assert(out.head._2 == BigDecimal(4.4 / 3.38)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("containment catches a short doc embedded in a long one where jaccard misses") {
    val docs = Seq(
      (1L, "a b c d"),                 // 2 shingles, both inside doc 2
      (2L, "a b c d e f g h")).toDF("doc_id", "text") // 6 shingles
    val cont = Dedup.containment(docs, "doc_id", "text", w = 3, threshold = 0.5)
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 1.0, 0.333)))
    val jac = Dedup.ngramJaccard(docs, "doc_id", "text", w = 3, threshold = 0.5)
    assert(jac.count() == 0, "jaccard 2/6=0.333 misses the full containment")
  }

  test("data card rolls up docs, cross-source dups, tokens, chars, langs per source") {
    val docs = Seq(
      (1L, "dup text", "en", "web", 8L),
      (2L, "dup text", "en", "books", 8L),   // cross-source exact dup
      (3L, "unique here", "fr", "web", 11L),
      (4L, null.asInstanceOf[String], "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Analytics.dataCard(docs, "doc_id", "text", "source", "lang", "n_chars")
      .as[(String, Long, Long, Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq(
      ("books", 1L, 0L, 1L, 2L, 8.0, 1L),
      ("web", 3L, 1L, 1L, 4L, 19.0 / 3, 2L)
        .copy(_6 = BigDecimal(19.0 / 3).setScale(2,
          BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("bm25Join ranks each query's own document first in self-retrieval") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta theta"),
      (4L, "unrelated words entirely here")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Join(docs, "doc_id", "text",
        docs.where(col("doc_id").isin(1L, 3L)), "doc_id", "text", topN = 2)
      .orderBy(col("q_id"), col("score").desc, col("doc_id"))
      .as[(Long, Long, Double)].collect()
    val byQ = out.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byQ(1L).head == 1L, "query 1's own doc ranks first")
    assert(byQ(1L) == Seq(1L, 2L), "doc 2 shares alpha+beta, ranks second")
    assert(byQ(3L) == Seq(3L), "no other doc shares query 3's terms")
  }

  test("bm25Join maxDfFrac drops stopword-grade postings, keeps surviving weights exact") {
    // 'the' is in every doc (df = 4 = N); discriminative terms are rare
    val docs = Seq(
      (1L, "the alpha beta"),
      (2L, "the alpha delta"),
      (3L, "the epsilon zeta"),
      (4L, "the unrelated words")).toDF("doc_id", "text")
    val queries = docs.where(col("doc_id") === 1L)
    val exact = TextAnalysis.bm25Join(docs, "doc_id", "text",
        queries, "doc_id", "text", topN = 4)
      .as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toMap
    val capped = TextAnalysis.bm25Join(docs, "doc_id", "text",
        queries, "doc_id", "text", topN = 4, maxDfFrac = 0.9)
      .as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toMap
    // 'the' (df/N = 1 > 0.9) is cut; its Lucene idf = log2(1 + 0.5/4.5)
    // is the ONLY delta — docs sharing real terms shift by exactly that
    // mass, and doc 4 (only 'the' in common) drops out entirely
    assert(!capped.contains(4L), "stopword-only match must vanish under the cap")
    assert(exact.contains(4L), "exact form keeps the stopword-only match")
    val theIdf = math.log(1.0 + (4.0 - 4.0 + 0.5) / (4.0 + 0.5)) / math.log(2.0)
    Seq(1L, 2L).foreach { d =>
      val delta = exact(d) - capped(d)
      assert(math.abs(delta / theIdf - 1.0) < 0.15,
        s"doc $d: capped score must differ by ~the stopword's idf mass " +
          s"(delta $delta vs idf-scale $theIdf)")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Join(docs, "doc_id", "text", queries, "doc_id", "text",
        maxDfFrac = 0.0)
    }
  }

  test("retrieval decontamination drops benchmark hits, keeps unrelated docs") {
    val docs = Seq(
      (1L, "alpha beta gamma"),          // the benchmark item itself
      (2L, "alpha beta delta"),          // lexically close -> contaminated
      (3L, "epsilon zeta eta theta"),    // shares nothing -> keeps
      (4L, null.asInstanceOf[String]))   // null text never ranks -> keeps
      .toDF("doc_id", "text")
    val keep = TextAnalysis.retrievalDecontaminate(docs, "doc_id", "text",
        docs.where(col("doc_id") === 1L), "doc_id", "text", topN = 2)
      .as[(Long, Long)].collect().toMap
    assert(keep == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("semDedup drops the higher-id member of a same-cell near-identical pair") {
    // 8 vectors: ids 1,2 nearly parallel (cos ~ 1), the rest orthogonal-ish
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),   // semantic dup of 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
      (6L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (7L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (8L, Seq(0.0f, 1.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        nCells = 2, tau = 0.95)
      .orderBy(col("vec_id"))
      .as[(Long, Long, Long)].collect()
    assert(out.length == 8)
    val keep = out.map(r => r._1 -> r._3).toMap
    assert(keep(1L) == 1L, "lower id of the dup pair survives")
    assert(keep(2L) == 0L, "higher id of the dup pair is dropped")
    assert((3L to 8L).forall(keep(_) == 1L), "non-dups all survive")
    // the dup pair landed in the same cell by construction
    val cells = out.map(r => r._1 -> r._2).toMap
    assert(cells(1L) == cells(2L))
  }

  test("semDedup survives zero-norm vectors (ANSI divide guard) and keeps them") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.999f, 0.001f)),   // dup of 1
      (3L, Seq(0.0f, 0.0f)),       // zero norm: cosine undefined, never a dup
      (4L, Seq(0.0f, 0.0f)))       // second zero norm: not a dup of 3 either
      .toDF("vec_id", "embedding")
    val keep = Similarity.semDedup(vecs, "vec_id", "embedding",
        nCells = 1, tau = 0.95)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(keep == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("ivf cell profile counts every vector once and shares sum to 1") {
    val vecs = (1L to 40L).map(i =>
      (i, Seq(math.cos(i.toDouble).toFloat, math.sin(i.toDouble).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfCellProfile(vecs, "vec_id", "embedding", nCells = 4)
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._2).sum == 40L, "every vector assigned exactly once")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4, "shares sum to ~1")
    assert(out.map(_._1).distinct.length == out.length, "one row per cell")
  }

  test("embedding card flags missing payloads, mixed dims and zero norms") {
    val vecs = Seq(
      (1L, Seq(3.0f, 4.0f), 0),            // norm 5
      (2L, Seq(0.0f, 0.0f), 0),            // zero norm
      (3L, null.asInstanceOf[Seq[Float]], 0), // missing
      (4L, Seq(1.0f, 0.0f, 0.0f), 1))      // dim 3
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingCard(vecs, "vec_id", "embedding", "label")
      .as[(Int, Long, Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (0, 3L, 1L, 1L, 1L, Some(2.5)),      // avg(5, 0) = 2.5
      (1, 1L, 0L, 1L, 0L, Some(1.0))))
  }

  test("score curriculum keeps all of the top band and a monotone share below") {
    val n = 3000L
    val rows = (1L to n).map { i =>
      val score = if (i % 3 == 0) 0.05 else if (i % 3 == 1) 0.45 else 0.95
      (i, score)
    }.toDF("doc_id", "score")
    val kept = Sampling.scoreCurriculum(rows, "doc_id", "score", nBands = 10)
      .as[(Long, Double, Long)].collect()
    assert(kept.forall { case (_, s, b) =>
      b == math.min(math.floor(s * 10).toLong + 1, 10L) }, "band formula")
    val byBand = kept.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(byBand(10L) == n / 3, "top band keeps every row")
    val f1 = byBand.getOrElse(1L, 0L).toDouble / (n / 3)
    val f5 = byBand.getOrElse(5L, 0L).toDouble / (n / 3)
    assert(f1 < f5 && f5 < 1.0, s"retention ramps with the band: $f1 vs $f5")
    assert(math.abs(f1 - 0.1) < 0.05 && math.abs(f5 - 0.5) < 0.08,
      s"md5 coin tracks band/10: $f1, $f5")
  }

  test("stop-token pruning removes the top token, keeps order, keeps emptied docs") {
    val docs = Seq(
      (1L, "a b a"),
      (2L, "a"),
      (3L, "b a c")).toDF("doc_id", "text")
    // corpus counts: a=4, b=2, c=1 -> stop list (top 1) = {a}
    val out = TextAnalysis.pruneTopTokens(docs, "doc_id", "text", stopN = 1)
      .orderBy(col("doc_id"))
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 1L, "b"), (2L, 0L, ""), (3L, 2L, "b c")))
  }
}
