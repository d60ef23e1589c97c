package graft.ops

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Semantics specs for the library operators on small fixed datasets
  * (the sf0.01 oracle pins them against DuckDB end-to-end; these pin the
  * corner cases the fixtures may not hit).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin picks latest point <= query time, ties include the point") {
    val points = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 12:00:00"), "b"),
      (2L, ts("2024-01-01 11:00:00"), "c"))
      .toDF("k", "t", "v")
    val queries = Seq(
      (100L, 1L, ts("2024-01-01 11:00:00")), // after a, before b -> a
      (101L, 1L, ts("2024-01-01 12:00:00")), // exactly b -> b (<= semantics)
      (102L, 2L, ts("2024-01-01 10:59:59")), // before c -> null
      (103L, 3L, ts("2024-01-01 23:00:00"))) // no points for key -> null
      .toDF("id", "k", "t")
    val out = AsOfJoin(points, queries, "k", "t", "t", "v", "asof")
      .select("id", "asof").as[(Long, Option[String])].collect().toMap
    assert(out == Map(100L -> Some("a"), 101L -> Some("b"), 102L -> None, 103L -> None))
  }

  test("Sessionize splits on gaps > threshold and aggregates per session") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2L, 2.0),  // same session (10 min)
      (1L, ts("2024-01-01 11:30:00"), 3L, 3.0),  // gap 80 min -> new session
      (2L, ts("2024-01-01 10:00:00"), 4L, 4.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = Sessionize(events, "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "sess")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 3.0), (2L, 1L, 1L, 4.0)))
  }

  test("exact dedup keeps min id and counts duplicates") {
    val docs = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "n_dupes").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L)))
  }

  test("shingles guard docs shorter than w") {
    val docs = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text", w = 3)
    val byDoc = sh.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(!byDoc.contains(1L), "2-token doc has no 3-shingles")
    assert(byDoc(2L) == 2L) // "a b c", "b c d"
  }

  test("minhash LSH finds identical docs with jaccard 1.0") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text with no overlap at all"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashLsh(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 1.0)))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryId = 0L, k = 3)
      .as[(Long, Double)].collect().toMap
    assert(out(0L) == 1.0 && out(1L) == 1.0 && out(2L) == 0.0)
  }

  test("ANN LSH buckets put identical vectors together and find them") {
    val emb = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(4)(j => if (j == i % 2) 1.0f else 0.1f * i)))
      .toDF("vec_id", "embedding")
    val out = Similarity.annTopK(emb, "vec_id", "embedding",
      dim = 4, queryId = 0L, k = 3, nBits = 2)
    val ids = out.select("vec_id").as[Long].collect()
    assert(ids.contains(0L), "query vector must be in its own bucket")
  }

  test("language ID picks the dominant stopword language") {
    val docs = Seq(
      (1L, "the cat and the dog of it"),
      (2L, "el perro y la casa que no"),
      (3L, "zzz qqq www"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("language ID and quality score drop null-text docs (oracle contract)") {
    val docs = Seq((1L, Some("the cat and the dog")), (2L, None))
      .toDF("doc_id", "text")
    assert(TextAnalysis.languageId(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap == Map(1L -> "en"))
    assert(TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val docs = Seq((1L, "hello world, it's 42")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().head
    assert(out._2 == 4)          // whitespace tokens
    // hello | world | , | it | ' | s | 42
    assert(out._3 == 7)
  }

  test("multimodal plumbing: payload bytes flow through mapPartitions") {
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text")
    val bin = Multimodal.withBinaryPayload(docs, "doc_id", "text")
    val meta = Multimodal.extractMeta(spark, bin).collect().head
    assert(meta.doc_id == 1L && meta.width == 4L && meta.format == "stub")
  }

  test("multimodal: injected MediaDecoder handles AV payloads; image and stub paths untouched") {
    // payloads: one fake-video (FAKV magic), one unknown blob, one real PNG
    val png = {
      val img = new java.awt.image.BufferedImage(5, 3,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val docs = Seq(
      (1L, "FAKV-a-video-container".getBytes("UTF-8")),
      (2L, "just some text bytes".getBytes("UTF-8")),
      (3L, png)).toDF("doc_id", "payload")
    // with the SPI decoder injected by class name
    val metas = Multimodal.extractMeta(spark, docs,
        decoderClass = Some(classOf[FakeAvDecoder].getName))
      .collect().map(m => m.doc_id -> ((m.width, m.height, m.format))).toMap
    assert(metas(1L) == ((1920L, 1080L, "fakevideo")), "SPI decoder owns its magic")
    assert(metas(2L)._3 == "stub", "unrecognised payloads still fall to the stub")
    assert(metas(3L) == ((5L, 3L, "png")), "image path bypasses the SPI decoder")
    // without injection the FAKV payload falls back to the stub
    val plain = Multimodal.extractMeta(spark, docs).collect()
      .map(m => m.doc_id -> m.format).toMap
    assert(plain(1L) == "stub")
  }

  test("multimodal: synthetic WAV decodes via the default path (JDK javax.sound, no stub)") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    // 0.5 s of silence: 16-bit PCM mono @ 8000 Hz
    def wav(sampleRate: Float, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val buf = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
      buf.toByteArray
    }
    val docs = Seq(
      (1L, wav(8000f, 1, 4000)),                  // 500 ms mono
      (2L, wav(44100f, 2, 44100)),                // 1 s stereo
      (3L, "not audio at all".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    // the generic decode chain recognises WAV without any injection
    val metas = Multimodal.extractMeta(spark, docs).collect()
      .map(m => m.doc_id -> ((m.width, m.height, m.format))).toMap
    assert(metas(1L) == ((500L, 1L, "wav")), "duration ms + channels via javax.sound")
    assert(metas(2L) == ((1000L, 2L, "wav")))
    assert(metas(3L)._3 == "stub", "non-audio still falls to the stub")
    // the typed form carries the full header
    val full = Multimodal.extractAudioMeta(spark, docs).collect()
      .map(m => m.doc_id -> m).toMap
    assert(full(1L) == Multimodal.AudioMeta(1L, 500L, 1L, 8000L, 16L, "PCM_SIGNED"))
    assert(full(2L) == Multimodal.AudioMeta(2L, 1000L, 2L, 44100L, 16L, "PCM_SIGNED"))
    assert(full(3L).encoding == "unknown" && full(3L).sample_rate == -1L)
  }

  test("deterministic sampling: repartition-stable, growth-stable, fractions honored") {
    val df = spark.range(2000).toDF("doc_id")
    val s1 = Sampling.sample(df, "doc_id", 0.25).select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.sample(df.repartition(13), "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    assert(math.abs(s1.size / 2000.0 - 0.25) < 0.05, s"got ${s1.size}/2000")
    val splits = Sampling.splitLabel(df, "doc_id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits.values.sum == 2000 && splits.keySet == Set("train", "val", "test"))
    assert(math.abs(splits("train") / 2000.0 - 0.8) < 0.05, s"train=${splits("train")}")
    // corpus growth must never move an existing doc across splits
    val small = Sampling.splitLabel(spark.range(1000).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    val large = Sampling.splitLabel(df, "doc_id").as[(Long, String)].collect().toMap
    assert(small.forall { case (id, l) => large(id) == l })
  }

  test("qualitySignals: top-token share via sorted run-length == distinct-count form") {
    val rng = new scala.util.Random(11)
    def doc(): String = List.fill(rng.nextInt(30) + 1)(
      ('a' + rng.nextInt(4)).toChar.toString * (rng.nextInt(3) + 1)).mkString(" ")
    val docs = ((1 to 30).map(i => (i.toLong, doc())) :+
      (98L, "solo") :+ (99L, "x x x y")).toDF("doc_id", "text")
    val fast = TextAnalysis.qualitySignals(docs, "doc_id", "text")
      .select("doc_id", "top_token_share").as[(Long, Double)].collect().toMap
    // reference: explicit per-token counts on the driver
    val ref = docs.as[(Long, String)].collect().map { case (id, txt) =>
      val toks = txt.split(" ", -1)
      id -> math.rint(toks.groupBy(identity).values.map(_.length).max.toDouble
        / toks.length * 10000) / 10000
    }.toMap
    fast.foreach { case (id, v) => assert(math.abs(v - ref(id)) < 1e-9, s"doc $id") }
    assert(fast(99L) == 0.75)
  }

  test("decontaminate: empty benchmark flags nothing; df-cap drops boilerplate overlap") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.decontaminate(corpus, emptyBench, "doc_id", "text").count() == 0)
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 3L), "3 shared 3-shingles of the 5-token overlap")
    // a shingle in every corpus doc is boilerplate: df-cap removes it
    val boiler = (1L to 50L).map(i => (i, s"click here to unsubscribe tail$i"))
      .toDF("doc_id", "text")
    val bench2 = Seq((100L, "click here to unsubscribe now")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(boiler, bench2, "doc_id", "text", maxDf = 10).count() == 0,
      "df-capped boilerplate shingles must not count as contamination")
  }

  test("redactPii: multiple and adjacent matches, null text, clean text untouched") {
    val docs = Seq(
      (1L, Some("mail a@b.co and c.d+x@e-f.org now")),
      (2L, Some("ip 192.168.0.1 phone +44-20-7946-0958 end")),
      (3L, Some("nothing sensitive here")),
      (4L, None))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "doc_id", "text")
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).get == "mail <EMAIL> and <EMAIL> now")
    assert(out(2L).get == "ip <IP> phone <PHONE> end")
    assert(out(3L).get == "nothing sensitive here")
    assert(out(4L).isEmpty, "null text passes through as null")
  }

  test("hexThreshold edges: frac 0 keeps nothing, frac 1 keeps everything") {
    val df = spark.range(100).toDF("doc_id")
    assert(Sampling.sample(df, "doc_id", 0.0).count() == 0)
    assert(Sampling.sample(df, "doc_id", 1.0).count() == 100)
    val splits = Sampling.splitLabel(df, "doc_id", trainFrac = 1.0, valFrac = 0.0)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits == Map("train" -> 100L))
    // frac within 2^-33 of 1 rounds to exactly 2^32 in double arithmetic:
    // unclamped it would format as 9 nibbles ("100000000…") and keep only
    // hashes starting with '0' (~1/16) — the clamp pins the 8-nibble max
    val nearOne = math.nextDown(1.0)
    assert(Sampling.hexThreshold(nearOne) == "ffffffff" + "0" * 24)
    assert(Sampling.hexThreshold(nearOne).length == 32)
    assert(Sampling.sample(df, "doc_id", nearOne).count() >= 95)
  }

  test("stratifiedSample: per-stratum rates, unknown strata dropped, repartition-stable") {
    val df = spark.range(4000)
      .select(col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 4).cast("string")).as("src"))
    val fracs = Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.1)
    val out = Sampling.stratifiedSample(df, "doc_id", "src", fracs)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(out.getOrElse("s3", 0L) == 0L, "stratum without a weight defaults to 0")
    assert(out("s0") == 1000L, "frac 1.0 keeps the whole stratum")
    assert(math.abs(out("s1") / 1000.0 - 0.5) < 0.08, s"s1=${out("s1")}")
    assert(math.abs(out("s2") / 1000.0 - 0.1) < 0.05, s"s2=${out("s2")}")
    // same rows regardless of partitioning (md5 threshold, no RNG)
    val a = Sampling.stratifiedSample(df, "doc_id", "src", fracs)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.stratifiedSample(df.repartition(17), "doc_id", "src", fracs)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("exactSizeSample: exactly n per stratum, small strata whole, repartition-stable") {
    val df = spark.range(900)
      .select(col("id").as("doc_id"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("g"))
      .union(Seq((9000L, "tiny"), (9001L, "tiny")).toDF("doc_id", "g"))
    val out = Sampling.exactSizeSample(df, "doc_id", "g", 25)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(out == Map("g0" -> 25L, "g1" -> 25L, "g2" -> 25L, "tiny" -> 2L),
      s"got $out")
    val a = Sampling.exactSizeSample(df, "doc_id", "g", 25)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.exactSizeSample(df.repartition(11), "doc_id", "g", 25)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "md5-rank selection must not depend on partitioning")
  }

  test("ivfKnnJoin: self is each query's top hit; k and probe bounds hold") {
    val rng = new scala.util.Random(31)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val corpus = (0L until 120L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val out = graft.ops.Similarity.ivfKnnJoin(corpus, queries,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, nCells = 8, nProbe = 3)
      .as[(Long, Long, Double)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 40L, 80L))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5, s"query $q must get exactly k rows")
      val top = rows.maxBy(r => (r._3, -r._2))
      assert(top._2 == q && top._3 == 1.0,
        s"query $q's own vector must rank first: $rows")
    }
    // the rank is a map-side-combined bounded aggregation, NOT a window:
    // a window would shuffle+sort EVERY probed candidate per query, the
    // aggregator ships at most k rows per (query × partition)
    val plan = graft.ops.Similarity.ivfKnnJoin(corpus, queries,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, nCells = 8, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"top-k must aggregate, not window:\n$plan")
    assert(!plan.contains("Window"), s"no window rank expected:\n$plan")
  }

  test("pqTopK: self-consistent, deterministic, persisted twin byte-identical") {
    val rng = new scala.util.Random(11)
    val emb = (0L until 60L).map(i => (i, Seq.fill(8)(rng.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val a = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 5, m = 2, nCodes = 4).collect().toSeq
    assert(a.size == 5)
    // deterministic: a re-run returns the identical ranking and scores
    val b = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 5, m = 2, nCodes = 4).collect().toSeq
    assert(a == b)
    // the persisted layout serves the same retrieval bit-for-bit (same
    // md5-seeded codebooks — the q57-vs-q54 convention)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx_").toString
    Similarity.buildPqIndex(emb, "vec_id", "embedding", dir, m = 2, nCodes = 4)
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val c = Similarity.pqIndexTopK(spark, dir, "vec_id", qv, k = 5).collect().toSeq
    assert(a.map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      c.map(r => (r.getLong(0), r.getDouble(1))).toSet)
    // the stored rows are the compression story: m ints per vector
    val data = spark.read.parquet(s"$dir/data")
    assert(data.schema("codes").dataType.simpleString == "array<int>")
    val lens = data.select(size(col("codes"))).as[Int].collect().toSet
    assert(lens == Set(2))
  }

  test("pq: null/empty vectors excluded, dim mismatch fails fast") {
    val emb = Seq(
      (0L, Some(Seq(1.0, 0.0, 0.0, 1.0))),
      (1L, Some(Seq(0.5, 0.5, 0.5, 0.5))),
      (2L, None),
      (3L, Some(Seq.empty[Double])))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, m = 2, nCodes = 2).collect()
    assert(out.map(_.getLong(0)).toSet == Set(0L, 1L)) // nulls/empties gone
    // a dim that doesn't divide into m subspaces is an error, not a
    // silent prefix match — caught driver-side at codebook construction
    val bad = Seq((0L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTopK(bad, "vec_id", "embedding",
        queryId = 0L, k = 1, m = 2, nCodes = 1).collect()
    }
    assert(e.getMessage.contains("subspaces"))
    // a MIXED-width corpus passes codebook construction (the single seed
    // — id 1, lowest md5 — is well-formed) but the stray row must fail
    // the encode, not match a prefix
    val mixed = Seq(
      (0L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)), // stray: dim 8
      (1L, Seq(1.0, 0.0, 0.0, 1.0)))                     // seed + query: dim 4
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.pqTopK(mixed, "vec_id", "embedding",
        queryId = 1L, k = 2, m = 2, nCodes = 1).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e2).exists(c =>
      Option(c.getMessage).exists(_.contains("PqEncode"))))
  }

  test("bruteKnnJoin: self is top hit, k bound holds; annRecall fractions exact") {
    val rng = new scala.util.Random(5)
    val emb = (0L until 30L).map(i => (i, Seq.fill(6)(rng.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val truth = Similarity.bruteKnnJoin(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
    val rows = truth.collect()
    assert(rows.length == 3 * 5)
    // each query's best hit is itself (cosine 1)
    val best = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.maxBy(r => (r.getDouble(2), -r.getLong(1))).getLong(1)
    }
    assert(best == Map(0L -> 0L, 10L -> 10L, 20L -> 20L))
    // recall of truth against itself is 1 everywhere
    val self = Similarity.annRecall(truth, truth, "vec_id").collect()
    assert(self.forall(r => r.getDouble(3) == 1.0 && r.getLong(1) == 5))
    // a partial approx: drop two of query 0's five hits, all of query 10's
    val partial = truth.filter(
      (col("q_id") === 0L && col("vec_id") % 2 === 0) || col("q_id") === 20L)
    val rec = Similarity.annRecall(partial, truth, "vec_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rec(20L) == ((5L, 1.0)))
    assert(rec(10L) == ((0L, 0.0))) // absent query scores 0, not a missing row
    assert(rec(0L)._1 < 5L && rec(0L)._2 == rec(0L)._1 / 5.0)
  }

  test("temperatureFracs: t=1 natural, t=0 balanced to the smallest stratum") {
    val df = (Seq.fill(800)("big") ++ Seq.fill(200)("mid") ++ Seq.fill(50)("small"))
      .toDF("src")
    val natural = Sampling.temperatureFracs(df, "src", 1.0)
    assert(natural.values.forall(f => math.abs(f - 1.0) < 1e-12),
      "temperature 1 must not resample")
    val balanced = Sampling.temperatureFracs(df, "src", 0.0)
    assert(math.abs(balanced("big") - 50.0 / 800) < 1e-12)
    assert(math.abs(balanced("mid") - 50.0 / 200) < 1e-12)
    assert(balanced("small") == 1.0)
    val mid = Sampling.temperatureFracs(df, "src", 0.5)
    assert(mid("big") > balanced("big") && mid("big") < 1.0,
      "intermediate temperature interpolates")
    assert(Sampling.temperatureFracs(spark.emptyDataFrame
      .select(lit("x").as("src")).limit(0), "src", 0.5).isEmpty)
  }

  test("mixturePlan/mixtureFracs: weights normalize order-independently, plan surfaces absent strata, epochs realize") {
    // srcA: 4 docs × 10 tokens = 40 available; srcB: 2 × 10 = 20
    val df = Seq(
      (1L, "srcA", 10L), (2L, "srcA", 10L), (3L, "srcA", 10L),
      (4L, "srcA", 10L), (5L, "srcB", 10L), (6L, "srcB", 10L),
      (7L, "srcOff", 10L) // in the corpus, not in the recipe
    ).toDF("doc_id", "src", "n_tok")
    // normalization is a sorted-key fold: construction order cannot move it
    val w1 = Sampling.mixtureWeights(Map("b" -> 1.0, "a" -> 3.0))
    val w2 = Sampling.mixtureWeights(Map("a" -> 3.0, "b" -> 1.0))
    assert(w1 == w2 && w1("a") == 0.75 && w1("b") == 0.25)
    // recipe: 75% A, 25% B-equivalent… plus a stratum the corpus lacks
    val recipe = Map("srcA" -> 0.75, "srcB" -> 0.25, "srcGhost" -> 0.0)
    val plan = Sampling.mixturePlan(df, "src", "n_tok", recipe, 120L)
      .orderBy("src")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_ => r.getDouble(4)),
         Option(r.get(5)).map(_ => r.getDouble(5)))).toMap
    assert(plan.keySet == Set("srcA", "srcB", "srcGhost"),
      "the plan covers exactly the recipe strata (srcOff is not in it)")
    assert(plan("srcA") == ((40L, 90L, Some(1.0), Some(2.25))),
      s"A: 90 targeted over 40 available = 2.25 epochs, frac capped: ${plan("srcA")}")
    assert(plan("srcB") == ((20L, 30L, Some(1.0), Some(1.5))), s"${plan("srcB")}")
    assert(plan("srcGhost") == ((0L, 0L, None, None)),
      "a recipe stratum absent from the corpus surfaces with 0/null, not silently")
    // uncapped fracs feed upsample: every A doc gets 2 + coin(0.25)
    // copies, every B doc 1 + coin(0.5) — total mass within the coins'
    // range of the 120-token budget
    val fracs = Sampling.mixtureFracs(df, "src", "n_tok", recipe, 120L,
      allowReplacement = true)
    assert(fracs == Map("srcA" -> 2.25, "srcB" -> 1.5), s"$fracs")
    val out = Sampling.upsample(df, "doc_id", "src", fracs)
    val mass = out.agg(sum("n_tok")).collect()(0).getLong(0)
    // md5 coins are deterministic: of ids 1-4 none falls under 0.25, of
    // ids 5-6 only 6 falls under 0.5 → 8×10 + 3×10 = 110 (budget 120,
    // within one coin's 10-token granularity)
    assert(mass == 110L, s"realized mass: $mass")
    val copies = out.groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 4L).forall(id => copies(id) == 2L || copies(id) == 3L))
    assert((5L to 6L).forall(id => copies(id) == 1L || copies(id) == 2L))
    assert(!copies.contains(7L), "a stratum outside the recipe drops")
  }

  test("corpusDiff: added/removed/changed/unchanged partition, null-safe content identity") {
    val ref = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, null.asInstanceOf[String]), (5L, "eps")).toDF("doc_id", "text")
    val cur = Seq((1L, "alpha"), (2L, "beta EDITED"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]),
      (6L, "new doc")).toDF("doc_id", "text")
    val out = Analytics.corpusDiff(ref, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unchanged", // same text
      2L -> "changed",   // edited
      3L -> "removed",   // gone from cur
      4L -> "unchanged", // null on both sides: null-safe equality
      5L -> "changed",   // text went null
      6L -> "added"),    // new id
      s"$out")
  }

  test("fixedBand: fixed cuts, edge clamps, nulls get their own band") {
    val df = Seq(Some(-5.0), Some(0.0), Some(99.9), Some(100.0),
      Some(999.9), Some(1000.0), Some(5000.0), None).toDF("x")
    val out = df.select(
      Analytics.fixedBand(col("x"), 0.0, 1000.0, 10).as("b"))
      .collect().map(_.getLong(0)).toSeq
    // below-range clamps into band 0, at/above hi into the top band,
    // null to -1 (a null-rate shift IS drift, so it must be visible)
    assert(out == Seq(0L, 0L, 0L, 1L, 9L, 9L, 9L, -1L), s"$out")
  }

  test("distributionDrift: PSI terms per bucket, one-sided buckets finite and loud, every term non-negative") {
    val ref = ((1 to 5).map(i => (i.toLong, "a")) ++
      (6 to 9).map(i => (i.toLong, "b")) ++ Seq((10L, "c")))
      .toDF("id", "lang")
    val cur = ((1 to 8).map(i => (i.toLong, "a")) ++
      (9 to 10).map(i => (i.toLong, "b"))).toDF("id", "lang")
    val out = Analytics.distributionDrift(ref, cur, "lang")
      .orderBy("lang").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
         r.getDouble(5))).toMap
    def psi(rf: Double, cf: Double): Double = {
      val (r2, c2) = (math.max(rf, 1e-6), math.max(cf, 1e-6))
      (c2 - r2) * math.log(c2 / r2)
    }
    assert(out.keySet == Set("a", "b", "c"))
    val (an, acn, arf, acf, apsi) = out("a")
    assert((an, acn, arf, acf) == ((5L, 8L, 0.5, 0.8)))
    assert(math.abs(apsi - psi(0.5, 0.8)) < 1e-6, s"a: $apsi")
    val (_, _, brf, bcf, bpsi) = out("b")
    assert((brf, bcf) == ((0.4, 0.2)) &&
      math.abs(bpsi - psi(0.4, 0.2)) < 1e-6)
    // bucket present only in ref: share 0 on the cur side, the eps floor
    // keeps the term finite and it dominates the table — a vanished
    // bucket IS the loudest drift
    val (cn, ccn, _, ccf, cpsi) = out("c")
    assert(cn == 1L && ccn == 0L && ccf == 0.0)
    assert(cpsi > apsi && cpsi > bpsi,
      s"vanished bucket must dominate: $cpsi vs $apsi/$bpsi")
    assert(out.values.forall(_._5 >= 0.0),
      "difference and log ratio share sign, so every PSI term is >= 0")
  }

  test("distributionDrift: a NULL bucket in both snapshots matches itself (null-safe key)") {
    val ref = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String])).toDF("id", "lang")
    val cur = Seq((5L, "a"), (6L, "a"), (7L, null.asInstanceOf[String]),
      (8L, null.asInstanceOf[String])).toDF("id", "lang")
    val out = Analytics.distributionDrift(ref, cur, "lang").collect()
    assert(out.length == 2,
      s"null bucket must be ONE matched row, not two one-sided rows: ${out.toSeq}")
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getLong(1) == 2L && nullRow.getLong(2) == 2L)
    assert(nullRow.getDouble(5) == 0.0,
      "an unchanged null rate is zero drift, not an eps-floored alarm")
  }

  test("tokenBudgetPrefix: greedy md5 prefix stops at overflow, recipe-absent strata drop, null tokens spend 0") {
    // md5 rank of srcA ids: 4 < 1 < 2 < 3 (pinned literals, the
    // sampler-coin convention)
    val df = Seq((1L, "srcA", Some(4L)), (2L, "srcA", Some(4L)),
      (3L, "srcA", Some(4L)), (4L, "srcA", Some(4L)),
      (5L, "srcB", None), (6L, "srcB", Some(3L)),
      (7L, "srcOff", Some(1L))).toDF("doc_id", "src", "n_tok")
    val out = Sampling.tokenBudgetPrefix(df, "doc_id", "src", "n_tok",
        Map("srcA" -> 10L, "srcB" -> 3L))
      .select("doc_id").as[Long].collect().toSet
    // srcA: cum 4, 8, 12 → {4, 1}; srcB md5 rank 6 < 5: 6 spends 3,
    // the null-token 5 spends 0 and still fits; srcOff is not in the
    // recipe
    assert(out == Set(4L, 1L, 6L, 5L), s"$out")
  }

  test("dedupRecall/dedupScreenSummary: fixed bands with j=1.0 clamped, hit counts, operating point") {
    val truth = Seq((1L, 2L, 0.95), (3L, 4L, 0.85), (5L, 6L, 0.55),
      (7L, 8L, 0.25), (11L, 12L, 1.0)).toDF("d1", "d2", "jaccard")
    // screen found two true pairs (incl. the j=1.0 one) plus one
    // sub-threshold candidate that is pure verify cost
    val cand = Seq((1L, 2L), (11L, 12L), (9L, 10L)).toDF("d1", "d2")
    val out = Dedup.dedupRecall(truth, cand).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(out == Map(
      9L -> (0.9, 2L, 2L, 1.0), // 0.95 and the CLAMPED 1.0 share band 9
      8L -> (0.8, 1L, 0L, 0.0),
      5L -> (0.5, 1L, 0L, 0.0),
      2L -> (0.2, 1L, 0L, 0.0)), s"$out")
    val s = Dedup.dedupScreenSummary(truth, cand).collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((5L, 3L, 2L)))
    assert(s.getDouble(3) == math.rint(2.0 / 3 * 1e6) / 1e6 &&
      s.getDouble(4) == 0.4)
  }

  test("Web url canonicalization: case/port/userinfo/query/fragment strip, suffix precedence, fail-null") {
    val rows = Seq(
      // messy but valid: everything normalizes
      (1L, "HTTPS://User:Pw@WWW.Example.CO.UK:8443/A/B?q=1#frag"),
      // no explicit path -> "/"
      (2L, "http://Example.COM?x=1"),
      // shared-hosting suffix beats its parent TLD
      (3L, "https://Alice.GitHub.IO/repo"),
      // no matching suffix -> last-two-labels fallback
      (4L, "https://a.b.internal/x"),
      // single-label host passes through as its own domain
      (5L, "http://localhost:8080/x"),
      // a bare public suffix as host stays whole
      (6L, "https://co.uk/"),
      // no scheme -> canonical is NULL (host/domain still parse empty)
      (7L, "www.example.com/path"),
      (8L, null.asInstanceOf[String]))
      .toDF("id", "url")
    val out = Web.withUrlKeys(rows, "url")
      .select("id", "canon_url", "host", "domain")
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (("https://www.example.co.uk/A/B",
      "www.example.co.uk", "example.co.uk")), s"${out(1L)}")
    assert(out(2L) == (("http://example.com/", "example.com",
      "example.com")))
    assert(out(3L) == (("https://alice.github.io/repo",
      "alice.github.io", "alice.github.io")),
      "github.io must win over io: " + out(3L))
    assert(out(4L) == (("https://a.b.internal/x", "a.b.internal",
      "b.internal")), "fallback = last two labels: " + out(4L))
    assert(out(5L) == (("http://localhost/x", "localhost", "localhost")))
    assert(out(6L) == (("https://co.uk/", "co.uk", "co.uk")))
    assert(out(7L) == ((null, "", "")), s"schemeless fails null: ${out(7L)}")
    assert(out(8L) == ((null, null, null)))
    // the task-DSL knob compiles through the convert registry
    val viaKnob = rows.where(col("id") === 1L)
      .select(graft.transform.ConvertRegistry.compile("url",
        org.json4s.JString("url_domain")).as("d"))
      .as[String].collect().head
    assert(viaKnob == "example.co.uk")
    // entity decode as its own knob (escaped text with no markup)
    val decoded = Seq(Tuple1("caf&eacute; &amp;lt; r&#8217;s &#151;"))
      .toDF("t")
      .select(graft.transform.ConvertRegistry.compile("t",
        org.json4s.JString("decode_entities")).as("d"))
      .as[String].collect().head
    assert(decoded == "café &lt; r’s —", decoded)
  }

  test("filterBlockedDomains: registered-domain match, subdomains included, broadcast anti") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://a.evil.com/x"),        // subdomain of a blocked domain
      (2L, "https://evil.com/y"),          // the blocked domain itself
      (3L, "https://good.com/z"),          // clean
      (4L, "https://evil.org/w"),          // same label, different suffix
      (5L, null.asInstanceOf[String])      // null url -> domain null, kept
    ).toDF("id", "url")
    val blocked = Seq("evil.com", "bad.co.uk").toDF("domain")
    val out = Web.filterBlockedDomains(rows, "url", blocked)
      .select("id").as[Long].collect().toSet
    assert(out == Set(3L, 4L, 5L), s"$out")
    val plan = Web.filterBlockedDomains(rows, "url", blocked)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"blocklist must ride the broadcast side:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Exchange hash"),
      s"the corpus must not shuffle for a bounded blocklist:\n$plan")
  }

  test("loadPublicSuffixes: PSL format (comments, wildcard, exception), runtime cut") {
    import spark.implicits._
    val dir = tmpDir("graft_psl_")
    val psl =
      """// ===BEGIN ICANN DOMAINS===
        |// comment line
        |com
        |CO.IL
        |com.pl
        |github.dev  // trailing text after whitespace is ignored
        |*.ck
        |!www.ck
        |
        |// ===END ICANN DOMAINS===
        |""".stripMargin
    val path = s"$dir/public_suffix_list.dat"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), psl)
    val rules = Web.loadPublicSuffixes(path)
    // the VERDICT examples the bundled subset mis-cuts: now exact rules
    val hosts = Seq(
      "a.b.site.co.il", "shop.com.pl", "u.github.dev",
      // wildcard: any single label under ck is a public suffix
      "a.b.foo.ck", "foo.ck",
      // exception: www.ck is NOT a public suffix despite *.ck
      "x.www.ck", "www.ck",
      // untouched classes still behave
      "plain.com", "com", "nodots", "unknown.zz.yy")
    val got = hosts.toDF("h")
      .select(col("h"), Web.registeredDomain(col("h"), rules).as("d"))
      .as[(String, String)].collect().toMap
    assert(got("a.b.site.co.il") == "site.co.il")
    assert(got("shop.com.pl") == "shop.com.pl")
    assert(got("u.github.dev") == "u.github.dev")
    assert(got("a.b.foo.ck") == "b.foo.ck")
    assert(got("foo.ck") == "foo.ck", "bare wildcard suffix passes through")
    assert(got("x.www.ck") == "www.ck", "exception rule")
    assert(got("www.ck") == "www.ck")
    assert(got("plain.com") == "plain.com")
    assert(got("com") == "com")
    assert(got("nodots") == "nodots")
    assert(got("unknown.zz.yy") == "zz.yy", "last-two-labels fallback")
    // the column default stays the bundled rules: byte-identical to
    // threading PublicSuffixRules.bundled explicitly
    val diff = hosts.toDF("h")
      .select(Web.registeredDomain(col("h")).as("a"),
        Web.registeredDomain(col("h"), PublicSuffixRules.bundled).as("b"))
      .where(not(col("a") <=> col("b"))).count()
    assert(diff == 0)
    // the consuming ops thread the rules: a blocklisted registered
    // domain under a loaded exact rule catches its subdomains
    val pages = Seq((1L, "https://a.b.site.co.il/x"),
      (2L, "https://other.co.il/y")).toDF("id", "url")
    val blocked = Seq("site.co.il").toDF("domain")
    assert(Web.filterBlockedDomains(pages, "url", blocked, "domain", rules)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(Web.withUrlKeys(pages, "url", rules)
      .where(col("id") === 1L).select("domain").as[String].head()
      == "site.co.il")
    // an empty/comment-only file is an error, never a silent no-rules cut
    val empty = s"$dir/empty.dat"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(empty),
      "// nothing here\n")
    intercept[IllegalArgumentException] { Web.loadPublicSuffixes(empty) }
  }

  test("htmlToText: rule order, non-rendered subtrees, entities, whitespace") {
    import spark.implicits._
    val page =
      "<html ><head><script type=\"text/JavaScript\">var x=1; " +
        "if (x<2) { s=\"</p>decoy\"; }</script>" +
        "<style>p { color: red; }</style></head>" +
        "<body><!-- hidden <p>comment</p> --><h1 class=\"t\">Title</h1>\n" +
        "<p>body &amp;amp; caf&#39;e &quot;q&quot;&nbsp;x &lt;b&gt;kept&gt;</p>" +
        "<ul><li> alpha</li><li>beta </li></ul>" +
        "<table><tr><td>c1</td><td>c2</td></tr></table>" +
        "<p>tail <b>bold</b>, <I>ital</I> &amp; done</p></body></html>"
    val out = Seq((1L, page)).toDF("id", "html")
      .select(Web.htmlToText(col("html")).as("t")).as[String].collect().head
    assert(out ==
      "Title\nbody &amp; caf'e \"q\" x <b>kept>\nalpha\nbeta\nc1 c2\ntail bold, ital & done",
      s"got: ${out.replace("\n", "\\n")}")
    // script content with a bare `<` and a decoy closing block tag is
    // gone entirely; entities decoded ONCE (&amp;amp; -> &amp;, the
    // escaped <b> survives as text); inline tags join their
    // surroundings; block tags break lines; cells separate with spaces.
    assert(!out.contains("decoy") && !out.contains("color"))
    // null and plain text pass through
    val plain = Seq((1L, "no markup  here")).toDF("id", "html")
      .select(Web.htmlToText(col("html")).as("t")).as[String].collect().head
    assert(plain == "no markup here")
    val nul = Seq((1L, null.asInstanceOf[String])).toDF("id", "html")
      .select(Web.htmlToText(col("html")).as("t")).as[String].collect().head
    assert(nul == null)
  }

  test("decodeHtmlEntities: numeric/hex/named decode, single-pass, invalids literal") {
    val d = Web.decodeHtmlEntities _
    // the three token forms
    assert(d("caf&eacute;") == "café")
    assert(d("r&#8217;s") == "r’s")
    assert(d("h&#x2019; H&#X2019;") == "h’ H’")
    assert(d("&#x10FFFF;") == new String(Character.toChars(0x10FFFF)))
    // single-pass: decoded output is never rescanned
    assert(d("&amp;lt;") == "&lt;")
    assert(d("&amp;#8217;") == "&#8217;")
    // nbsp renders as PLAIN space in all three spellings
    assert(d("a&nbsp;&#160;&#xa0;b") == "a   b")
    // invalid / unknown / unterminated survive literally
    for (lit <- Seq("&bogus;", "&#0;", "&#1114112;", "&#xD800;",
        "&#12345678;", "&#xABCDEF1;", "&#x;", "&#;", "&eacute", "&a;",
        "&" + "a" * 32 + ";", "&NBSP;", "& lt;", "&&", "&"))
      assert(d(lit) == lit, s"must stay literal: $lit")
    // case-sensitive names where both cases exist
    assert(d("&prime;&Prime;") == "′″")
    // HTML5 windows-1252 overrides for 0x80-0x9F: browsers render
    // &#151; as an em-dash, never a C1 control
    assert(d("&#151;&#x92;&#128;") == "—’€")
    assert(d("&#129;") == "", "unmapped C1 codes decode to themselves")
    // boundary shapes
    assert(d("") == "")
    assert(d("no entities") == "no entities")
    assert(d("&amp;") == "&")
    assert(d("tail&") == "tail&")
    assert(d("&#60;div&#62;") == "<div>")
  }

  test("decodeHtmlEntities scanner == tokenize-and-transform Column spelling") {
    import spark.implicits._
    val cases = Seq(
      "caf&eacute; r&#8217;s h&#x2019; A&mdash;B e&hellip;",
      "&amp;lt; &amp;#39; &&amp; &", "",
      "&bogus; &#0; &#1114112; &#xD800; &#12345678; &#x; &a;",
      "a&nbsp;&#160;&#xa0;b plain &#x10FFFF; end&",
      "&" + "z" * 31 + "; &" + "z" * 32 + ";",
      "&prime;&Prime; &NBSP; &#8217 &#x2019 x",
      "&#151;&#x92;&#128;&#129;&#159;&#x9f; cp1252 overrides")
    val diff = cases.toDF("s")
      .select(col("s"), Web.decodeHtmlEntitiesComposed(col("s")).as("c"))
      .as[(String, String)].collect()
      .filter { case (s, c) => Web.decodeHtmlEntities(s) != c }
    assert(diff.isEmpty, s"scanner != composed: ${diff.toSeq}")
  }

  test("gopherFilter: per-rule verdicts and keep on shaped documents") {
    import spark.implicits._
    val good = "The fast brown fox ran over the low stone wall and " +
      "kept pace with the hounds that chased it through the long grass"
    val docs = Seq(
      (1L, good),                                     // passes everything
      (2L, "too short"),                              // word count
      (3L, good + "\n- a\n- b\n- c\n- d\n- e\n- f"),  // bullet-dominated? 6/7 lines
      (4L, ("# " * 30).trim),                         // symbols, no alpha, no stops
      (5L, good + " everything trails off...")        // one ellipsis line of one
    ).toDF("doc_id", "text")
    val th = TextAnalysis.GopherThresholds(minWords = 10,
      maxBulletLineFrac = 0.5, maxEllipsisLineFrac = 0.3)
    val out = TextAnalysis.gopherFilter(docs, "doc_id", "text", th)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("keep"), r.getAs[Long]("f_words"),
          r.getAs[Long]("f_bullet"), r.getAs[Long]("f_ellipsis"),
          r.getAs[Long]("f_symbol"), r.getAs[Long]("f_alpha"),
          r.getAs[Long]("f_stop"))).toMap
    assert(out(1L)._1 == 1L, s"good doc must keep: ${out(1L)}")
    assert(out(2L)._2 == 0L && out(2L)._1 == 0L, "short doc fails words")
    assert(out(3L)._3 == 0L, s"6/7 bullet lines > 0.5: ${out(3L)}")
    assert(out(4L)._5 == 0L && out(4L)._6 == 0L && out(4L)._7 == 0L,
      s"symbol wall fails symbol+alpha+stop: ${out(4L)}")
    assert(out(5L)._4 == 0L, s"1/1 ellipsis lines > 0.3: ${out(5L)}")
    assert(out(5L)._1 == 0L && out(3L)._1 == 0L)
    // one-pass projection: no exchange in the plan
    val plan = TextAnalysis.gopherFilter(docs, "doc_id", "text", th)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherFilter must not shuffle:\n$plan")
  }

  test("Web.intake: extract -> gopher gate -> normalize -> dedup, one exchange") {
    import spark.implicits._
    val body = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass all day"
    def page(b: String) =
      s"<html><body><h1>Hdr</h1><p>$b</p></body></html>"
    val docs = Seq(
      (7L, page(body)),                  // duplicate pair, higher id
      (2L, page(body)),                  // representative (min id)
      (3L, page(body + " and then some more words went past the gate")),
      (4L, page("# # # #")),             // fails the gopher gate
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "html")
    val out = Web.intake(docs, "doc_id", "html",
        TextAnalysis.GopherThresholds(minWords = 10))
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(2L, 3L), s"${out.keySet}")
    assert(out(2L)._3 == 2L, "duplicate pair collapses to min id")
    assert(out(3L)._3 == 1L)
    assert(out(2L)._2.startsWith("Hdr The fast brown fox"),
      s"normalized text: ${out(2L)._2}")
    // the chain is one map-side projection + ONE dedup shuffle
    val plan = Web.intake(docs, "doc_id", "html",
        TextAnalysis.GopherThresholds(minWords = 10))
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$plan")
  }

  test("segmentParagraphs: blank-line seams, trims, drops empties, dense index") {
    import spark.implicits._
    val doc = "first para\nstill first\n\n  second para \n\n\n \t\n\nthird"
    val out = TextAnalysis.segmentParagraphs(
        Seq((1L, doc), (2L, "single"), (3L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      (1L, 0L, "first para\nstill first", 22L),
      (1L, 1L, "second para", 11L),
      (1L, 2L, "third", 5L),
      (2L, 0L, "single", 6L)),
      s"$out")
    // pure generator: no exchange
    val plan = TextAnalysis.segmentParagraphs(
        Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("gopherKeep fused expression == rules-derived spelling, both thresholds") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"),
          lit("\n- b\n* c...\n# t # …\nplain end")).as("text"))
    for (th <- Seq(
        TextAnalysis.GopherThresholds(),
        TextAnalysis.GopherThresholds(minWords = 30, maxMeanWordLen = 4.2,
          maxSymbolWordRatio = 0.08, maxEllipsisLineFrac = 0.4,
          minStopHits = 1))) {
      val diff = docs.select(
          TextAnalysis.gopherKeep(col("text"), th).as("e"),
          TextAnalysis.gopherKeepComposed(col("text"), th).as("c"))
        .where(not(col("e") <=> col("c"))).count()
      assert(diff == 0, s"fused != composed under $th")
    }
    // edge rows: empty, whitespace-only, null
    val edges = Seq((1L, ""), (2L, "   \n\n  "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val diffE = edges.select(
        TextAnalysis.gopherKeep(col("text")).as("e"),
        TextAnalysis.gopherKeepComposed(col("text")).as("c"))
      .where(not(col("e") <=> col("c"))).count()
    assert(diffE == 0)
  }

  test("GopherKeep codegen compiles with non-finite thresholds (no interpreted fallback)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // Infinity disables a max rule; a bare 'Infinity' literal in the
    // generated Java would throw a janino CompileException right here
    // (GeneratePredicate compiles directly, no interpreted fallback).
    val e = org.apache.spark.sql.graft.GopherKeep(
      BoundReference(0, StringType, nullable = true),
      minWords = 0L, maxWords = Long.MaxValue,
      minMeanWordLen = 0.0, maxMeanWordLen = Double.PositiveInfinity,
      maxSymbolWordRatio = Double.PositiveInfinity,
      maxBulletLineFrac = Double.PositiveInfinity,
      maxEllipsisLineFrac = Double.PositiveInfinity,
      minAlphaWordFrac = 0.0, minStopHits = 0L)
    val pred = GeneratePredicate.generate(e)
    pred.initialize(0)
    val keep = pred.eval(InternalRow(
      UTF8String.fromString("the of and to a plain sentence with words")))
    assert(keep, "all-disabled thresholds must keep a plain sentence")
    // NaN renders safely too (Double.NaN, never bare 'NaN')
    val nanE = e.copy(maxMeanWordLen = Double.NaN)
    GeneratePredicate.generate(nanE).initialize(0)
  }

  test("removeFrequentParagraphs: chrome dies everywhere, order kept, all-banned survives empty") {
    import spark.implicits._
    val chrome = "accept cookies to continue"
    val docs = Seq(
      (1L, s"own one\n\n$chrome\n\nown two"),
      (2L, s"$chrome\n\nsecond doc body"),
      (3L, chrome),                         // ONLY chrome -> ''
      (4L, "untouched document"),
      (5L, s"  $chrome \n\nwith edge ws")   // trims, then matches chrome
    ).toDF("doc_id", "text")
    val out = Dedup.removeFrequentParagraphs(docs, "doc_id", "text",
        minDocFreq = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "own one\n\nown two", 3L, 1L)), s"${out(1L)}")
    assert(out(2L) == ((2L, "second doc body", 2L, 1L)))
    assert(out(3L) == ((3L, "", 1L, 1L)), "all-banned doc survives empty")
    assert(out(4L) == ((4L, "untouched document", 1L, 0L)))
    assert(out(5L) == ((5L, "with edge ws", 2L, 1L)),
      "edge whitespace trims before the frequency count: " + out(5L))
    // below threshold nothing is banned
    val none = Dedup.removeFrequentParagraphs(docs, "doc_id", "text",
        minDocFreq = 6).where(col("n_removed") > 0).count()
    assert(none == 0)
  }

  test("gopherReport == gopherFilter rolled up per source") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val th = TextAnalysis.GopherThresholds(minWords = 30,
      maxMeanWordLen = 4.4, minStopHits = 1)
    val viaReport = TextAnalysis.gopherReport(docs, "text", "source", th)
      .orderBy(col("source")).collect().map(_.toString).toSeq
    val viaFilter = TextAnalysis.gopherFilter(docs, "doc_id", "text", th)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("f_words")).as("kill_words"),
        sum(lit(1L) - col("f_word_len")).as("kill_word_len"),
        sum(lit(1L) - col("f_symbol")).as("kill_symbol"),
        sum(lit(1L) - col("f_bullet")).as("kill_bullet"),
        sum(lit(1L) - col("f_ellipsis")).as("kill_ellipsis"),
        sum(lit(1L) - col("f_alpha")).as("kill_alpha"),
        sum(lit(1L) - col("f_stop")).as("kill_stop"),
        sum(col("keep")).as("n_keep"))
      .orderBy(col("source")).collect().map(_.toString).toSeq
    assert(viaReport == viaFilter)
    // single map-side-combined aggregation: exactly one exchange
    val plan = TextAnalysis.gopherReport(docs, "text", "source", th)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1, plan)
  }

  test("leakFreeSplit: train leaks relabel to dropped; eval never changes") {
    import spark.implicits._
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    // group g-test lands on the held-out side for this salt; g-train on train
    val groups = Sampling.splitByGroup(
      Seq.tabulate(40)(i => (i.toLong, s"g$i")).toDF("id", "g"), "g")
      .as[(Long, String, String)].collect()
    val trainG = groups.collectFirst { case (_, g, "train") => g }.get
    val heldG = groups.collectFirst { case (_, g, s) if s != "train" => g }.get
    val docs = Seq(
      (1L, evalText, heldG),                       // held-out doc
      (2L, evalText + " extra tail words here", trainG), // leaks 4-grams
      (3L, "совершенно unrelated text with zero overlap at all", trainG),
      (4L, evalText, heldG)                        // second eval member
    ).toDF("doc_id", "text", "source")
    val out = Sampling.leakFreeSplit(docs, "doc_id", "text", "source",
        w = 4, minHits = 2)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out(1L) != "train" && out(1L) != "dropped", s"${out(1L)}")
    assert(out(4L) == out(1L), "same group, same side")
    assert(out(2L) == "dropped", s"leaking train doc: ${out(2L)}")
    assert(out(3L) == "train", s"clean train doc survives: ${out(3L)}")
    assert(out.size == 4, "no row disappears")
  }

  test("plantRecallLadder: deterministic twins spanning >=5 jaccard and containment bands") {
    // a synthetic 64-doc corpus with enough words that every ladder
    // level gets slice docs (ids 0,4,...,60 → levels 0..7 twice)
    val docs = (0L until 64L).map { id =>
      val words = (1 to 40).map(w => s"w${(id * 7 + w * 3) % 50}_$w")
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = Dedup.plantRecallLadder(docs)
    // slice: 16 originals (doc_id % 4 = 0) + 16 twins
    assert(corpus.count() == 32)
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    assert(ids.count(_ >= 100000000L) == 16, "one twin per slice doc")
    assert(ids.filter(_ >= 100000000L).map(_ - 100000000L)
      .forall(ids.contains), "twin ids = original ids + offset")
    // deterministic: a second derivation is row-identical
    val again = Dedup.plantRecallLadder(docs)
    assert(corpus.except(again).isEmpty && again.except(corpus).isEmpty)
    // the audit chain over the ladder spans the similarity bands — the
    // whole point: the recall curve hashes >=5 bands instead of 1
    val sets = Dedup.shingleSets(corpus, "doc_id", "text", 3)
    val jTruth = Dedup.ngramJaccardFromSets(sets, threshold = 0.2)
    val jBands = jTruth.select(
        least(lit(9L), floor(col("jaccard") * 10).cast("long")))
      .distinct().as[Long].collect().toSet
    assert(jBands.size >= 5, s"jaccard bands planted: $jBands")
    val cTruth = Dedup.containmentFromSets(sets, threshold = 0.5)
      .select(greatest(col("c12"), col("c21")).as("c"))
    val cBands = cTruth.select(
        least(lit(9L), floor(col("c") * 10).cast("long")))
      .distinct().as[Long].collect().toSet
    assert(cBands.size >= 5, s"containment bands planted: $cBands")
    // level-7 twins are near-identical (the top of both ladders)
    assert(jBands.contains(9L) && cBands.contains(9L))
  }

  test("mixtureFracs/tokenBudgetFracs: an all-null-token stratum drops like an absent one") {
    val df = Seq((1L, "a", Some(10L)), (2L, "a", Some(10L)),
      (3L, "ghost", None), (4L, "ghost", None)).toDF("doc_id", "src", "n_tok")
    val f = Sampling.mixtureFracs(df, "src", "n_tok",
      Map("a" -> 0.5, "ghost" -> 0.5), 10L)
    assert(f == Map("a" -> 0.25), s"null-sum stratum must drop, not NPE: $f")
    val b = Sampling.tokenBudgetFracs(df, "src", "n_tok",
      Map("a" -> 10L, "ghost" -> 10L))
    assert(b == Map("a" -> 0.5), s"$b")
  }

  test("tokenBudgetFracs: budget/total capped at 1, absent strata dropped, expectation hit") {
    val rows = (1 to 400).map { i =>
      val src = Seq("web", "books", "code")(i % 3)
      (i.toLong, src, 100L) // 100 tokens each
    }
    val df = rows.toDF("doc_id", "src", "n_tok")
    // web/books: ~133-134 docs × 100 tokens ≈ 13.3k each
    val fracs = Sampling.tokenBudgetFracs(df, "src", "n_tok",
      Map("web" -> 4000L, "books" -> 1000000L, "ghost" -> 50L))
    assert(math.abs(fracs("web") - 4000.0 / 13300) < 0.001 ||
      math.abs(fracs("web") - 4000.0 / 13400) < 0.001)
    assert(fracs("books") == 1.0, "under-budget stratum kept whole")
    assert(!fracs.contains("ghost"), "budget for an absent stratum yields no fraction")
    assert(!fracs.contains("code"), "stratum without a budget yields no fraction")
    // end-to-end: sampled token mass ≈ budget, unbudgeted stratum dropped
    val kept = Sampling.stratifiedSample(df, "doc_id", "src", fracs)
      .groupBy("src").agg(sum("n_tok").as("t"))
      .as[(String, Long)].collect().toMap
    assert(!kept.contains("code"))
    assert(kept("books") > 13000, "whole stratum survives")
    assert(kept("web") > 1500 && kept("web") < 7000,
      s"sampled mass should be near the 4000-token budget, got ${kept.get("web")}")
    // allowReplacement: an over-total budget returns the RAW ratio (>1),
    // and upsample turns it into epochs — books at ~5x its mass
    val rep = Sampling.tokenBudgetFracs(df, "src", "n_tok",
      Map("books" -> 66500L), allowReplacement = true)
    assert(rep("books") > 4.9 && rep("books") < 5.1,
      s"uncapped ratio expected ~5, got ${rep.get("books")}")
    // upsample passes df's columns through, so the token mass sums directly
    val mass = Sampling.upsample(df, "doc_id", "src", rep)
      .agg(sum("n_tok")).as[Long].head()
    assert(math.abs(mass - 66500L) < 8000,
      s"upsampled token mass should approximate the budget, got $mass")
  }

  test("token counts are pluggable: budgets and packing follow any precomputed count column") {
    val docs = Seq(
      (1L, "web", "short text here"),
      (2L, "web", "a considerably longer document body with many more words in it"),
      (3L, "books", "mid sized line of words"))
      .toDF("doc_id", "src", "text")
    val counted = docs
      .withColumn("ws_n", TextAnalysis.tokenCountColumn(col("text")))
      .withColumn("bpe_n", TextAnalysis.tokenCountColumn(col("text"), "bpe"))
      .withColumn("c4_n", TextAnalysis.tokenCountColumn(col("text"), "chars4"))
    val r = counted.select("doc_id", "ws_n", "bpe_n", "c4_n")
      .as[(Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 3L, s"ws count: ${r(1L)}")
    assert(r(1L)._4 == math.ceil("short text here".length / 4.0).toLong)
    assert(r(1L)._3 >= r(1L)._2, "bpe proxy is at least the whitespace count")
    // budgets resolve against the SUPPLIED column, not whitespace
    val fr = Sampling.tokenBudgetFracs(counted, "src", "c4_n",
      Map("web" -> 1000000L, "books" -> 3L))
    assert(fr("web") == 1.0)
    assert(math.abs(fr("books") - 3.0 / r(3L)._4) < 1e-9,
      s"books fraction must follow the chars4 totals: ${fr("books")}")
    // packing offsets are running sums of the supplied counts
    val packed = Packing.pack(counted, "doc_id", "bpe_n", "src", seqLen = 8)
      .select("doc_id", "start_off").as[(Long, Long)].collect().toMap
    assert(packed(1L) == 0L && packed(3L) == 0L)
    assert(packed(2L) == r(1L)._3,
      s"doc 2 must start where doc 1's bpe count ends: $packed")
    // unknown tokenizers are rejected with the precompute guidance
    intercept[IllegalArgumentException] {
      TextAnalysis.tokenCountColumn(col("text"), "gpt9")
    }
  }

  test("dsirLogWeights rates target-like docs above pool-like docs") {
    // target slice speaks "alpha beta"; the pool noise speaks "zzz qqq"
    val target = (0L until 10L).map(i => (i, "alpha beta alpha", true))
    val pool = (10L until 30L).map(i => (i, "zzz qqq zzz qqq", false))
    val probes = Seq((100L, "alpha beta", false), (101L, "zzz qqq", false),
      (102L, null.asInstanceOf[String], false), (103L, "   ", false))
    val df = (target ++ pool ++ probes).toDF("doc_id", "text", "tgt")
    val w = Sampling.dsirLogWeights(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(!w.contains(102L) && !w.contains(103L),
      "null/empty text cannot be profiled")
    assert(w(100L)._1 > 0 && w(101L)._1 < 0,
      s"target-like positive, pool-like negative: ${w(100L)} ${w(101L)}")
    assert(w(100L)._2 == 2L && w(101L)._2 == 2L)
    // weights are a pure function of the corpus: re-run identical
    val again = Sampling.dsirLogWeights(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(again == w)
  }

  test("dsirResample draws high-weight docs without replacement, deterministically") {
    // long docs: per-token log-ratios accumulate, so the weight gap
    // dwarfs the ~1.3-nat Gumbel noise and the draw must concentrate
    val tgtText = Seq.fill(8)("alpha beta gamma").mkString(" ")
    val target = (0L until 5L).map(i => (i, tgtText, true))
    val likeTarget = (10L until 40L).map(i => (i, tgtText, false))
    val noise = (100L until 160L).map(i =>
      (i, Seq.fill(8)(s"junk${i % 7} spam${i % 5} noise${i % 3}").mkString(" "), false))
    val df = (target ++ likeTarget ++ noise).toDF("doc_id", "text", "tgt")
    val picked = Sampling.dsirResample(df, "doc_id", "text", col("tgt"), n = 20)
      .collect().map(_.getLong(0))
    assert(picked.length == 20 && picked.distinct.length == 20,
      "without replacement")
    val targetLike = picked.count(id => id < 40L)
    assert(targetLike == 20,
      s"selection should concentrate on target-like docs, got $targetLike/20")
    // deterministic: the same draw on a re-run
    val again = Sampling.dsirResample(df, "doc_id", "text", col("tgt"), n = 20)
      .collect().map(_.getLong(0))
    assert(again.toSeq == picked.toSeq)
  }

  test("cellBalancedSample: per-cell cap, density-independence, deterministic membership") {
    // two planted clusters with wildly different densities: 90 rows near
    // +x, 10 rows near +y — a density-proportional sample is ~90% +x,
    // the balanced sample must cap both at perCell
    def v(base: Array[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.01 * (((i * 31 + j * 17) % 11) - 5) }
    val dense = (0L until 90L).map(i => (i, v(Array(1.0, 0.0, 0.0, 0.0), i)))
    val sparse = (100L until 110L).map(i => (i, v(Array(0.0, 1.0, 0.0, 0.0), i)))
    val emb = (dense ++ sparse).toDF("vec_id", "embedding")
    val out = Similarity.cellBalancedSample(emb, "vec_id", "embedding",
        nCells = 2, perCell = 4, kmeansIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perCell = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(out.length <= 8 && perCell.values.forall(_ <= 4),
      s"every cell capped at perCell: $perCell")
    // after kmeans refinement the two planted clusters are the two
    // cells: the sparse cluster contributes its full cap despite being
    // 10% of the corpus — the density-independence property
    val sparseKept = out.count(_._1 >= 100L)
    assert(sparseKept == 4, s"sparse cluster must fill its cap: $sparseKept")
    val again = Similarity.cellBalancedSample(emb, "vec_id", "embedding",
        nCells = 2, perCell = 4, kmeansIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.sorted.sameElements(out.sorted), "membership is deterministic")
  }

  test("hardNegatives: label predicate, semi-hard band, determinism") {
    // clusters on +x (label 0), +y (label 1), and a mid diagonal
    // (label 2) — for an anchor in cluster 0 the diagonal rows are the
    // hard negatives (cos ≈ 0.7), the +y rows the easy ones (cos ≈ 0)
    def v(base: Array[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
    val cx = (0L until 10L).map(i => (i, v(Array(1.0, 0.0, 0.0, 0.0), i), 0))
    val cy = (20L until 30L).map(i => (i, v(Array(0.0, 1.0, 0.0, 0.0), i), 1))
    val cd = (40L until 50L).map(i => (i, v(Array(0.7, 0.7, 0.0, 0.0), i), 2))
    val emb = (cx ++ cy ++ cd).toDF("vec_id", "embedding", "label")
    val anchors = emb.filter(col("vec_id") < 2L)
    val out = Similarity.hardNegatives(emb, anchors,
      "vec_id", "embedding", "label", "vec_id", "embedding", "label", k = 5)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, id, _) => id >= 20L },
      "a same-label row must never be mined as a negative")
    assert(rows.forall { case (_, id, _) => id >= 40L },
      s"unbanded hardest negatives are the diagonal cluster: ${rows.toSeq}")
    // ceiling below the diagonal's ~0.7 similarity excludes it: only the
    // orthogonal (easy) cluster survives the band
    val banded = Similarity.hardNegatives(emb, anchors,
      "vec_id", "embedding", "label", "vec_id", "embedding", "label",
      k = 5, maxSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(banded.nonEmpty && banded.forall { case (_, id, s) =>
      id >= 20L && id < 30L && s <= 0.5 },
      s"ceiling must cut the suspected-positive diagonal: ${banded.toSeq}")
    val again = Similarity.hardNegatives(emb, anchors,
      "vec_id", "embedding", "label", "vec_id", "embedding", "label", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.sorted.sameElements(rows.sorted), "mining is deterministic")
  }

  test("projKnnJoinRerank: full-candidate parity with brute, true scores under bounded candidates, determinism") {
    val rng = new scala.util.Random(7)
    val emb = (0L until 60L).map(i => (i, Seq.fill(8)(rng.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 20 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = rows(Similarity.bruteKnnJoin(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 5)).sorted
    // kCand = |corpus|: every row reaches the full-precision rerank, so
    // the two-stage operator degenerates to the exact join — byte parity
    val full = rows(Similarity.projKnnJoinRerank(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, dim = 8, outDim = 4, kCand = 60)).sorted
    assert(full.sameElements(exact),
      "rerank over all candidates must equal bruteKnnJoin byte-for-byte")
    // bounded kCand: exactly k rows per query, and every emitted score is
    // the TRUE full-precision cosine (a subset of the brute pair scores —
    // the coarse stage may change WHICH pairs surface, never their score)
    val approx = rows(Similarity.projKnnJoinRerank(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, dim = 8, outDim = 4, kCand = 10))
    assert(approx.groupBy(_._1).values.forall(_.length == 5),
      "each query fills k from its candidate pool")
    val truth = rows(Similarity.bruteKnnJoin(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 60)).toSet
    assert(approx.forall(truth.contains),
      "every reranked score must be the full-precision cosine for its pair")
    val again = rows(Similarity.projKnnJoinRerank(emb, queries,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, dim = 8, outDim = 4, kCand = 10))
    assert(again.sorted.sameElements(approx.sorted), "deterministic")
  }

  test("hardNegativesIvf: fills k below the rank, equi-join plan, full-probe parity with the exact miner") {
    def v(base: Array[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
    val cx = (0L until 10L).map(i => (i, v(Array(1.0, 0.0, 0.0, 0.0), i), 0))
    val cy = (20L until 30L).map(i => (i, v(Array(0.0, 1.0, 0.0, 0.0), i), 1))
    val cd = (40L until 50L).map(i => (i, v(Array(0.7, 0.7, 0.0, 0.0), i), 2))
    val emb = (cx ++ cy ++ cd).toDF("vec_id", "embedding", "label")
    val anchors = emb.filter(col("vec_id") < 2L)
    // probing EVERY cell makes the approximation exact: byte parity
    // with hardNegatives proves the predicates sit below the rank
    val full = Similarity.hardNegativesIvf(emb, anchors,
        "vec_id", "embedding", "label", "vec_id", "embedding", "label",
        k = 5, nCells = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val exact = Similarity.hardNegatives(emb, anchors,
        "vec_id", "embedding", "label", "vec_id", "embedding", "label", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(full.sameElements(exact),
      s"all-cells probe must equal the exact miner: ${full.toSeq} vs ${exact.toSeq}")
    // narrowed probes still return ONLY different-label rows and at most k
    val probed = Similarity.hardNegativesIvf(emb, anchors,
      "vec_id", "embedding", "label", "vec_id", "embedding", "label",
      k = 5, nCells = 4, nProbe = 2)
    val rows = probed.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall(_._2 >= 20L), "label predicate holds under probing")
    assert(rows.groupBy(_._1).values.forall(_.length <= 5))
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "the celled miner must stay an equi-join")
  }

  test("knnClassify: cluster majority, self exclusion, smallest-label tie, null labels rank but never vote") {
    def v(base: Array[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
    val cx = (0L until 8L).map(i => (i, v(Array(1.0, 0.0, 0.0, 0.0), i), 3))
    val cy = (20L until 28L).map(i => (i, v(Array(0.0, 1.0, 0.0, 0.0), i), 7))
    val emb = (cx ++ cy).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(emb, emb.filter(col("vec_id") === 0L),
        "vec_id", "embedding", "label", "vec_id", "embedding", k = 5)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("pred_label") == 3 && r.getAs[Long]("n_votes") == 5L
      && r.getAs[Long]("n_neighbors") == 5L
      && r.getAs[Double]("vote_frac") == 1.0,
      s"in-cluster query takes the cluster label unanimously: $r")
    // k spanning the whole corpus: self (vec_id 0) must not vote — 7
    // same-cluster + 8 cross-cluster = 15 neighbors, never 16
    val all = Similarity.knnClassify(emb, emb.filter(col("vec_id") === 0L),
        "vec_id", "embedding", "label", "vec_id", "embedding", k = 20)
      .collect().head
    assert(all.getAs[Long]("n_neighbors") == 15L && all.getAs[Int]("pred_label") == 7,
      s"self excluded; cross-cluster majority 8:7 wins: $all")
    // exact tie: two corpus rows mirror-placed around the query — count
    // 1:1 must break to the SMALLEST label
    val tieCorpus = Seq(
      (1L, Seq(1.0, 0.1, 0.0, 0.0), 9), (2L, Seq(1.0, -0.1, 0.0, 0.0), 4))
      .toDF("vec_id", "embedding", "label")
    val tieQ = Seq((100L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val tie = Similarity.knnClassify(tieCorpus, tieQ,
      "vec_id", "embedding", "label", "vec_id", "embedding", k = 2).collect().head
    assert(tie.getAs[Int]("pred_label") == 4 && tie.getAs[Long]("n_votes") == 1L,
      s"ties break to the smallest label: $tie")
    // a null-label neighbor occupies a top-k slot but neither votes nor
    // counts toward n_neighbors
    val nullCorpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), null.asInstanceOf[Integer]),
      (2L, Seq(0.9, 0.1, 0.0, 0.0), Integer.valueOf(5)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0), Integer.valueOf(6)))
      .toDF("vec_id", "embedding", "label")
    val nl = Similarity.knnClassify(nullCorpus, tieQ,
      "vec_id", "embedding", "label", "vec_id", "embedding", k = 2).collect().head
    assert(nl.getAs[Int]("pred_label") == 5 && nl.getAs[Long]("n_neighbors") == 1L,
      s"null-label neighbor ranks but never votes: $nl")
    // the auto-labeling direction (labeled seed broadcast, queries
    // unshuffled) returns byte-identical rows — label the WHOLE fixture
    // from a 4-row seed both ways
    val seed = emb.filter(col("vec_id") % 7 === 0)
    def lab(bl: Boolean) = Similarity.knnClassify(seed, emb,
        "vec_id", "embedding", "label", "vec_id", "embedding", k = 3,
        broadcastLabeled = bl)
      .collect().map(_.toString).sorted.toSeq
    assert(lab(bl = true) == lab(bl = false),
      "broadcast direction must not change a single row")
  }

  test("labelNoiseAudit: a planted mislabel is the one confident disagreement") {
    def v(base: Array[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
    // 8 +x rows labeled 1, 8 +y rows labeled 2 — except row 25, which
    // sits in the +y cluster but carries label 1 (the planted mislabel)
    val rows = (0L until 8L).map(i => (i, v(Array(1.0, 0.0, 0.0, 0.0), i), 1)) ++
      (20L until 28L).map(i =>
        (i, v(Array(0.0, 1.0, 0.0, 0.0), i), if (i == 25L) 1 else 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoiseAudit(emb, "vec_id", "embedding", "label",
      k = 5).collect()
    assert(out.length == 16, "every labeled row is audited")
    val suspects = out.filter(!_.getAs[Boolean]("agree"))
    assert(suspects.map(_.getLong(0)).toSeq == Seq(25L),
      s"exactly the planted mislabel disagrees: ${suspects.toSeq}")
    val s25 = suspects.head
    assert(s25.getAs[Int]("label") == 1 && s25.getAs[Int]("pred_label") == 2
      && s25.getAs[Double]("vote_frac") == 1.0,
      s"the suspect's neighborhood votes unanimously against it: $s25")
  }

  test("labelNoiseAuditIvf: full-probe byte-parity with the exact audit; narrowed probes still flag the plant") {
    def v(base: Array[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
    val rows = (0L until 8L).map(i => (i, v(Array(1.0, 0.0, 0.0, 0.0), i), 1)) ++
      (20L until 28L).map(i =>
        (i, v(Array(0.0, 1.0, 0.0, 0.0), i), if (i == 25L) 1 else 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    def strs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // probing every cell removes the approximation entirely — the celled
    // audit must equal the exact one byte for byte (the q128 contract)
    val exact = Similarity.labelNoiseAudit(emb, "vec_id", "embedding",
      "label", k = 5)
    val full = Similarity.labelNoiseAuditIvf(emb, "vec_id", "embedding",
      "label", k = 5, nCells = 4, nProbe = 4)
    assert(strs(full) == strs(exact), "full probe must remove the approximation")
    // narrowed probes shrink neighborhoods (2-vote cells produce some
    // low-confidence noise — that is the probed-fraction trade), but the
    // plant remains the one UNANIMOUS disagreement and tops the re-check
    // queue's (agree asc, vote_frac desc) order
    val probed = Similarity.labelNoiseAuditIvf(emb, "vec_id", "embedding",
      "label", k = 5, nCells = 4, nProbe = 1).collect()
    val suspects = probed.filter(!_.getAs[Boolean]("agree"))
    assert(suspects.map(_.getLong(0)).contains(25L),
      s"the plant survives the probed fraction: ${suspects.toSeq}")
    val unanimous = suspects.filter(_.getAs[Double]("vote_frac") == 1.0)
    assert(unanimous.map(_.getLong(0)).toSeq == Seq(25L),
      s"only the plant disagrees unanimously: ${suspects.toSeq}")
    // classify twins agree the same way at full probe
    val qs = emb.filter(col("vec_id") < 2L)
    assert(strs(Similarity.knnClassifyIvf(emb, qs, "vec_id", "embedding",
        "label", "vec_id", "embedding", k = 5, nCells = 4, nProbe = 4)) ==
      strs(Similarity.knnClassify(emb, qs, "vec_id", "embedding",
        "label", "vec_id", "embedding", k = 5)),
      "knnClassifyIvf at full probe equals knnClassify")
  }

  test("capPerKey: n best per key by (score desc, id asc), null scores dropped, skewed key costs nothing extra") {
    def d(x: Double): java.lang.Double = Double.box(x)
    val rows: Seq[(Long, String, java.lang.Double)] =
      (0L until 100L).map(i => (i, "big", d((i % 10).toDouble))) ++
        Seq((200L, "small", d(5.0)), (201L, "small", d(7.0)),
          (202L, "small", d(7.0)), (300L, "nulls", null))
    val df = rows.toDF("doc_id", "source", "score")
    val out = Sampling.capPerKey(df, "doc_id", "source", "score", n = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // "big": score 9.0 appears at ids 9,19,...,99 — smallest two ids win
    // "small": 7.0 twice beats 5.0; the null-score row never survives
    assert(out == Set((9L, "big"), (19L, "big"), (201L, "small"), (202L, "small")),
      s"got $out")
    // keys with fewer than n rows keep them all
    val loose = Sampling.capPerKey(df, "doc_id", "source", "score", n = 500)
      .count()
    assert(loose == 103L, "below the cap every non-null-score row survives")
    // determinism across the broadcast and shuffled semi-join plans
    val shuffled = Sampling.capPerKey(df, "doc_id", "source", "score", n = 2,
        broadcastSurvivors = false)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(shuffled == out, "plan choice must not change membership")
  }

  test("splitByGroup: groups never straddle, assignment is the salted md5 coin, sizes follow group mass") {
    // 50 groups × 20 rows: every member of a group must share its split
    val df = (0L until 1000L).map(i => (i, s"grp${i % 50}"))
      .toDF("doc_id", "cluster")
    val out = Sampling.splitByGroup(df, "cluster").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val sides = out.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(sides.values.forall(_.length == 1),
      s"a group straddled splits: ${sides.filter(_._2.length > 1)}")
    // the coin is md5(group || "|gsplit") vs the q47 thresholds — check
    // one group's side against the direct computation
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("grp0|gsplit".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected =
      if (md < Sampling.hexThreshold(0.8)) "train"
      else if (md < Sampling.hexThreshold(0.9)) "val" else "test"
    assert(sides("grp0").head == expected, "assignment must be the documented coin")
    // all three splits occupied at 50 groups, and fractions are groupwise:
    // each split's row count is a multiple of the 20-row group size
    val bySplit = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), s"got $bySplit")
    assert(bySplit.values.forall(_ % 20 == 0), "row mass moves in whole groups")
    // leakage composition: rows that share a near-dup cluster id always
    // co-locate — the property an id-keyed split violates
    val idSplit = Sampling.splitLabel(df, "doc_id").collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getString(2)).distinct).toMap
    assert(idSplit.exists(_._2.length > 1),
      "fixture sanity: the i.i.d. split DOES straddle these groups")
  }

  test("persisted DSIR model reproduces the in-memory weights bit-for-bit") {
    val target = (0L until 10L).map(i => (i, "alpha beta alpha", true))
    val pool = (10L until 30L).map(i => (i, "zzz qqq zzz qqq", false))
    val df = (target ++ pool).toDF("doc_id", "text", "tgt")
    val dir = tmpDir("graft_dsirm_")
    Sampling.buildDsirModel(spark, df, "text", col("tgt"), dir)
    val inMem = Sampling.dsirLogWeights(df, "doc_id", "text", col("tgt"))
      .orderBy(col("doc_id")).as[(Long, Double, Long)].collect().toSeq
    val frozen = Sampling.dsirScoreWithModel(spark, df, "doc_id", "text", dir)
      .orderBy(col("doc_id")).as[(Long, Double, Long)].collect().toSeq
    assert(frozen == inMem)
    // an UNSEEN word lands in a bucket the fit may never have counted;
    // the weight must still be finite and the doc still scored
    val novel = Sampling.dsirScoreWithModel(spark,
        Seq((100L, "completelynovelword anotherone")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      .as[(Long, Double, Long)].collect()
    assert(novel.length == 1 && !novel.head._2.isNaN &&
      !novel.head._2.isInfinite && novel.head._3 == 2L)
    val bad = intercept[IllegalArgumentException] {
      Sampling.dsirScoreWithModel(spark, df, "doc_id", "text",
        tmpDir("graft_notdsir_"))
    }
    assert(bad.getMessage.contains("dsir_model"))
    val noTarget = intercept[IllegalArgumentException] {
      Sampling.buildDsirModel(spark, pool.toDF("doc_id", "text", "tgt"),
        "text", col("tgt"), tmpDir("graft_dsir0_"))
    }
    assert(noTarget.getMessage.contains("target slice"))
  }

  test("trainingOrder: reproducible shuffle, dense per-shard ranks, growth-stable order") {
    val docs = (1L to 400L).map(Tuple1(_)).toDF("doc_id")
    val out = Sampling.trainingOrder(docs, "doc_id", nShards = 8)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 400)
    val byShard = out.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // roughly uniform shards (md5 keys vs equi-spaced hex bounds)
    assert(byShard.values.map(_.size).max <= 90,
      s"shard sizes: ${byShard.view.mapValues(_.size).toMap}")
    // dense 0-based positions within every shard
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.size).toSeq,
        s"shard $sh ranks not dense")
    }
    // deterministic across runs and input partitioning
    val again = Sampling.trainingOrder(docs.repartition(7), "doc_id", 8)
      .as[(Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // the order is NOT the id order (it actually shuffles)
    val firstShardIds = out.filter(_._2 == out.minBy(_._1)._2)
      .sortBy(_._3).map(_._1)
    assert(firstShardIds.toSeq != firstShardIds.sorted.toSeq,
      "within-shard order must not be id order")
    // growth stability: adding new docs never reorders existing pairs
    // WITHIN a shard (relative order is a pure function of keys)
    val grown = Sampling.trainingOrder(
      (1L to 500L).map(Tuple1(_)).toDF("doc_id"), "doc_id", 8)
      .as[(Long, Long, Long)].collect()
    val oldOrder = out.groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    val newOrder = grown.filter(_._1 <= 400L).groupBy(_._2)
      .view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    assert(oldOrder == newOrder,
      "existing docs' shards and relative order must survive corpus growth")
  }

  test("exactDedupAgainstIndex: Bloom-cleared and verified rows, nulls admitted, corpus never shuffled") {
    val corpus = Seq(
      (2L, "shared content already ingested"),
      (4L, "another standing document"),
      (6L, "a third corpus member")).toDF("doc_id", "text")
    val dir = tmpDir("graft_keyidx_")
    Dedup.buildExactKeyIndex(corpus, "text", dir)
    // layout: fixed-width distinct keys + one serialized Bloom
    assert(spark.read.parquet(s"$dir/keys").columns.toSeq == Seq("key"))
    assert(new java.io.File(s"$dir/bloom/filter.bin").exists())
    val batch = Seq(
      (3L, "a genuinely new document"),            // fresh -> admitted
      (9L, "shared content already ingested"),     // re-crawl dup -> dropped
      (12L, null.asInstanceOf[String]),            // null text -> admitted
      (15L, "another standing document"))          // dup -> dropped
      .toDF("doc_id", "text")
    val admitted = Dedup.exactDedupAgainstIndex(spark, batch, "text", dir)
    assert(admitted.columns.toSeq == batch.columns.toSeq, "schema must be unchanged")
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(3L, 12L))
    // the broadcast path must never shuffle the corpus keys: every join
    // in the plan is a broadcast join
    assert(!admitted.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "broadcastBatch path must not sort-merge the key index")
    // the huge-batch (two-sided shuffle) path is result-identical
    val shuffled = Dedup.exactDedupAgainstIndex(spark, batch, "text", dir,
      broadcastBatch = false)
    assert(shuffled.select("doc_id").as[Long].collect().toSet == Set(3L, 12L))
  }

  test("keyIndexCard: utilization vs build sizing, replay re-appends count as rows not keys") {
    val dir = tmpDir("graft_keycard_")
    Dedup.buildKeyIndex(Seq("sha1:AAA", "sha1:BBB").toDF("d"), "d", dir)
    val appends = Seq("sha1:CCC", "sha1:DDD", "sha1:EEE").toDF("d")
    Dedup.appendKeys(spark, appends, "d", dir)
    val card1 = Dedup.keyIndexCard(spark, dir).collect().head
    assert(card1.getAs[Long]("n_keys") == 5L && card1.getAs[Long]("n_rows") == 5L)
    assert(card1.getAs[Long]("sized_n") == 2L)
    assert(card1.getAs[Double]("utilization") == 2.5)
    // a crash-window replay re-appends the same batch: rows grow,
    // logical keys (and the rebuild signal) don't
    Dedup.appendKeys(spark, appends, "d", dir)
    val card2 = Dedup.keyIndexCard(spark, dir).collect().head
    assert(card2.getAs[Long]("n_keys") == 5L && card2.getAs[Long]("n_rows") == 8L)
    assert(card2.getAs[Double]("utilization") == 2.5)
    assert(card2.getAs[Double]("fpp_sized") == 0.01)
  }

  test("key index expectedKeys: an empty/tiny first-ingest build sizes the Bloom for the corpus it will grow into") {
    // empty seed, capacity hint: sizing must be the hint, not max(1,0)=1
    // (a 1-key filter saturates on the first streamed append and every
    // probe degrades to the verify join until a manual rebuild)
    val dir = tmpDir("graft_keycap_")
    Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", dir,
      expectedKeys = 1000L)
    val card = Dedup.keyIndexCard(spark, dir).collect().head
    assert(card.getAs[Long]("sized_n") == 1000L, card.toString)
    assert(card.getAs[Long]("n_keys") == 0L)
    // the layout stays probe- and append-compatible
    val admitted = Dedup.exactDedupAgainstIndex(spark,
      Seq((1L, "first ever doc")).toDF("doc_id", "text"), "text", dir)
    assert(admitted.count() == 1)
    Dedup.appendExactKeys(spark,
      Seq((1L, "first ever doc")).toDF("doc_id", "text"), "text", dir)
    val card2 = Dedup.keyIndexCard(spark, dir).collect().head
    assert(card2.getAs[Long]("n_keys") == 1L &&
      card2.getAs[Long]("sized_n") == 1000L)
    // observed count larger than the hint: the count wins (never
    // undersize below what is actually held)
    val dir2 = tmpDir("graft_keycap2_")
    Dedup.buildKeyIndex(
      Seq("sha1:A", "sha1:B", "sha1:C").toDF("d"), "d", dir2,
      expectedKeys = 2L)
    assert(Dedup.keyIndexCard(spark, dir2).collect()
      .head.getAs[Long]("sized_n") == 3L)
  }

  test("funnel: strict order, equal timestamps don't count, monotone stages") {
    val e = Seq(
      // user 1 completes all three in order
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      // user 2: click BEFORE view -> stops after view
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      // user 3: click at the SAME instant as view -> strictly-after fails
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "click"),
      // user 4: purchase only -> no stage
      (4L, ts("2024-01-01 10:00:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = Analytics.funnel(e, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
    // user 2's later re-view does not resurrect the click: sequential-min
    // uses the EARLIEST view, and 09:00 < 10:00 — pinned by the count
    // conversion window: user 1's click is 60 min after the view, so a
    // 30-minute window cuts the funnel there
    val windowed = Analytics.funnel(e, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), within = Some("30 minutes"))
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(windowed.toSeq == Seq((1, "view", 3L), (2, "click", 0L),
      (3, "purchase", 0L)))
  }

  test("scoreAudit: hand-computed confusion table, null denominators, null rows dropped") {
    val scored = Seq(
      (1L, Some(2.0), Some(1)), (2L, Some(1.0), Some(1)),
      (3L, Some(-1.0), Some(1)),                        // positives
      (4L, Some(1.5), Some(0)), (5L, Some(-2.0), Some(0)),
      (6L, Some(-3.0), Some(0)),                        // negatives
      (7L, None, Some(1)),                              // unscored: dropped
      (8L, Some(0.5), None))                            // unlabeled: dropped
      .toDF("doc_id", "score", "y")
    val out = Analytics.scoreAudit(scored, "score", "y", Seq(0.0, 10.0))
      .collect()
    assert(out.length == 2)
    val at0 = out.find(_.getDouble(0) == 0.0).get
    // s > 0: docs 1,2 (tp) and 4 (fp); s <= 0: doc 3 (fn), docs 5,6 (tn)
    assert((at0.getLong(1), at0.getLong(2), at0.getLong(3), at0.getLong(4)) ==
      ((2L, 1L, 1L, 2L)))
    assert(at0.getDouble(5) == 0.666667 && at0.getDouble(6) == 0.666667)
    assert(at0.getDouble(7) == 0.666667) // f1 = 4/6
    val at10 = out.find(_.getDouble(0) == 10.0).get
    assert((at10.getLong(1), at10.getLong(2)) == ((0L, 0L)))
    assert(at10.isNullAt(5), "precision undefined when nothing admitted")
    assert(at10.getDouble(6) == 0.0 && at10.getDouble(7) == 0.0)
  }

  test("skewReport: exact shares, deterministic cut on count ties") {
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq.fill(3)("warm2")
      ++ Seq("cold")).toDF("k")
    val out = Analytics.skewReport(df, "k", topK = 3)
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("hot", 6L, 6.0 / 13), ("warm", 3L, 3.0 / 13),
      ("warm2", 3L, 3.0 / 13)).map { case (k, c, s) =>
      (k, c, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) })
  }

  test("upsample: whole epochs exact, fractional epoch is the md5 coin, absent strata drop") {
    val rows = (1L to 40L).map(i => (i, if (i <= 10) "a" else if (i <= 30) "b" else "c"))
    val df = rows.toDF("doc_id", "source")
    val out = Sampling.upsample(df, "doc_id", "source",
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 3.25))
      .as[(Long, String, Long)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // stratum a: exactly 2 copies each, indices 0 and 1
    (1L to 10L).foreach(i => assert(byDoc(i) == Seq(0L, 1L), s"doc $i: ${byDoc.get(i)}"))
    // stratum b: 0 or 1 copies, decided by the same md5 coin as the
    // rate sampler — identical kept set
    val kept = Sampling.sample(df.filter($"source" === "b"), "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert((11L to 30L).filter(byDoc.contains).toSet == kept)
    // stratum c: 3 whole copies + the 0.25 coin
    (31L to 40L).foreach { i =>
      val n = byDoc(i).size
      assert(n == 3 || n == 4); assert(byDoc(i) == (0L until n.toLong))
    }
    // deterministic under repartition
    val again = Sampling.upsample(df.repartition(7), "doc_id", "source",
      Map("a" -> 2.0, "b" -> 0.5, "c" -> 3.25))
      .as[(Long, String, Long)].collect()
    assert(again.sorted.toSeq == out.sorted.toSeq)
    // a stratum not in the recipe vanishes
    assert(Sampling.upsample(df, "doc_id", "source", Map("a" -> 1.0))
      .select("source").distinct().as[String].collect().toSeq == Seq("a"))
  }

  test("vocab and collocations: empty tokens dropped, floors, exact PMI ratios") {
    val docs = Seq(
      (1L, "a b a b a"),
      (2L, "a  b c"), // double space -> empty token dropped, bigram (a,b)
      (3L, null.asInstanceOf[String]),
      (4L, "c a b a")).toDF("doc_id", "text")
    // totals: a=6, b=4, c=2; topN=2 cuts c, minCount=2 would too
    val v = TextAnalysis.vocab(docs, "text", minCount = 2, topN = 2)
      .as[(String, Long)].collect()
    assert(v.toSeq == Seq(("a", 6L), ("b", 4L)))
    // bigrams: (a,b)=4, (b,a)=3, (b,c)=1, (c,a)=1 -> N=9; minCount=2
    // keeps ab, ba; scores 4·9/(6·4)=1.5 and 3·9/(4·6)=1.125 exactly
    val c = TextAnalysis.collocations(docs, "text", minCount = 2, topN = 10)
      .as[(String, String, Long, Double)].collect().toSet
    assert(c == Set(("a", "b", 4L, 1.5), ("b", "a", 3L, 1.125)))
    // single-token docs contribute unigrams but no bigrams (no
    // sequence(0,-1) blow-up)
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    assert(TextAnalysis.collocations(one, "text", minCount = 1).count() == 0)
  }

  test("decontaminateBloom == decontaminate row-identical (incl. df-cap and empty bench)") {
    val rng = new scala.util.Random(23)
    def doc(): String = List.fill(20)(('a' + rng.nextInt(6)).toChar.toString
      * (rng.nextInt(2) + 1)).mkString(" ")
    // corpus with some docs copying benchmark passages, plus boilerplate
    val benchDocs = (100L to 104L).map(i => (i, doc()))
    val contaminated = benchDocs.take(3).map { case (i, t) =>
      (i + 900, t + " extra tail tokens here") }
    val clean = (1L to 40L).map(i => (i, doc()))
    val boiler = (200L to 260L).map(i => (i, s"click here to unsubscribe t$i"))
    val corpus = (clean ++ contaminated ++ boiler).toDF("doc_id", "text")
    val bench = (benchDocs :+ (105L, "click here to unsubscribe now")).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val exact = norm(Dedup.decontaminate(corpus, bench, "doc_id", "text", maxDf = 10))
    val bloomed = norm(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", maxDf = 10))
    assert(bloomed == exact,
      "Bloom prefilter + exact verify must be row-identical to the exact overlap")
    assert(exact.keySet.intersect(contaminated.map(_._1).toSet).size == 3,
      "planted contamination must be flagged")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.decontaminateBloom(corpus, emptyBench, "doc_id", "text").count() == 0)
  }

  test("dupSpanFrac: copied passages score high, unique docs zero") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, passage + " unique tail for doc one after the shared passage runs out"),
      (2L, passage + " differing continuation for the second copy of the passage"),
      (3L, "совершенно другой текст без общих отрезков с остальными документами"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanFrac(docs, "doc_id", "text", k = 8, t = 16)
      .as[(Long, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(3L)._3 == 0.0 && out(3L)._4 == 1L, "unique doc keeps, frac 0")
    assert(out(1L)._3 > 0.2, s"copied passage must register shared spans: ${out(1L)}")
    assert(out(2L)._3 > 0.2, s"copied passage must register shared spans: ${out(2L)}")
    // a doc that is ENTIRELY a copy drops
    val twins = Seq((1L, passage), (2L, passage)).toDF("doc_id", "text")
    val t2 = Dedup.dupSpanFrac(twins, "doc_id", "text", k = 8, t = 16)
      .as[(Long, Long, Double, Long)].collect()
    t2.foreach { r =>
      assert(r._3 == 1.0 && r._4 == 0L, s"full copy must be dropped: $r")
    }
  }

  test("exciseDupSpans: a shared passage is excised from exactly one of two docs") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // exactly w=8 words
    val docs = Seq(
      (1L, s"one two three $passage four five six seven"),
      (2L, s"$passage completely different tail words here now then"),
      (3L, "unique document with no shared span content at all"))
      .toDF("doc_id", "text")
    val out = Dedup.exciseDupSpans(docs, "doc_id", "text", w = 8)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // the keeper (lowest doc_id) keeps the passage verbatim
    assert(out(1L)._2 == s"one two three $passage four five six seven" &&
      out(1L)._4 == 0L, s"keeper must be untouched: ${out(1L)}")
    // the non-keeper loses exactly the 8 shared words, nothing else
    assert(out(2L)._2 == "completely different tail words here now then",
      s"non-keeper must lose the shared span only: ${out(2L)}")
    assert(out(2L)._3 == 15L && out(2L)._4 == 8L)
    // a doc with no shared span passes through
    assert(out(3L)._2 == "unique document with no shared span content at all" &&
      out(3L)._4 == 0L)
    // overlapping duplicated grams excise the UNION of covered positions:
    // a 9-word shared passage = two overlapping 8-grams, 9 words removed
    val nine = passage + " iota"
    val o2 = Dedup.exciseDupSpans(Seq(
        (10L, s"$nine left tail padding words making doc long"),
        (20L, s"right padded intro then $nine closing words end"))
        .toDF("doc_id", "text"), "doc_id", "text", w = 8)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(o2(10L)._4 == 0L, "lowest id keeps the passage")
    assert(o2(20L)._2 == "right padded intro then closing words end" &&
      o2(20L)._4 == 9L, s"overlapping spans must excise their union: ${o2(20L)}")
    // short docs (< w words) and irregular whitespace pass through normalized
    val o3 = Dedup.exciseDupSpans(
      Seq((30L, "tiny  doc   with\tfew words")).toDF("doc_id", "text"),
      "doc_id", "text", w = 8)
      .as[(Long, String, Long, Long)].collect().head
    assert(o3._2 == "tiny doc with\tfew words" && o3._4 == 0L)
  }

  test("line index: standing-frequency bans, appends extend, same-token replay never double-counts") {
    val standing = Seq(
      (1L, "cookie banner\nalpha one"),
      (2L, "cookie banner\nbeta two"),
      (3L, "cookie banner\ngamma three"),
      (4L, "footer nav\ndelta four"),
      (5L, "footer nav\nepsilon five"))
      .toDF("doc_id", "text")
    val idx = tmpDir("graft_lineidx_") + "/idx"
    Dedup.buildLineIndex(standing, "doc_id", "text", idx, minDocFreq = 3)

    // probe: standing-frequent line removed; a line frequent only
    // WITHIN the probe batch (3 copies of "new promo") is standing-df 0
    // — batch-internal frequency is removeFrequentLines' job
    val probe = Seq(
      (10L, "cookie banner\nnew promo\nten"),
      (11L, "new promo\neleven"),
      (12L, "new promo\nfooter nav\ntwelve"))
      .toDF("doc_id", "text")
    val out1 = Dedup.removeLinesAgainstIndex(spark, probe, "doc_id", "text", idx)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out1(10L) == ((10L, "new promo\nten", 3L, 1L)), s"${out1(10L)}")
    assert(out1(11L) == ((11L, "new promo\neleven", 2L, 0L)), s"${out1(11L)}")
    // "footer nav" has standing df 2 < 3: kept
    assert(out1(12L) == ((12L, "new promo\nfooter nav\ntwelve", 3L, 0L)), s"${out1(12L)}")

    // append a slice carrying "footer nav" once: summed df 3 -> banned
    Dedup.appendLineCounts(Seq((20L, "footer nav\nzeta"))
      .toDF("doc_id", "text"), "doc_id", "text", idx, token = "t1")
    val out2 = Dedup.removeLinesAgainstIndex(spark, probe, "doc_id", "text", idx)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out2(12L) == ((12L, "new promo\ntwelve", 3L, 1L)),
      s"appended count must push footer nav over the threshold: ${out2(12L)}")

    // excludeToken: the replaying batch probes as if its delta were
    // absent — footer nav back under the threshold
    val out3 = Dedup.removeLinesAgainstIndex(spark, probe, "doc_id", "text",
        idx, excludeToken = Some("t1"))
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out3(12L)._4 == 0L, s"excluded delta must not count: ${out3(12L)}")

    // replay idempotence: a layout at threshold 4 with standing df 2 +
    // one append of df 1 sums to 3 — re-appending the SAME token must
    // overwrite, not add (a double-count would reach 4 and ban)
    val idx4 = tmpDir("graft_lineidx4_") + "/idx"
    Dedup.buildLineIndex(standing.where(col("doc_id") <= 2), "doc_id", "text",
      idx4, minDocFreq = 4)   // cookie banner df 2
    val slice = Seq((30L, "cookie banner\nthirty")).toDF("doc_id", "text")
    Dedup.appendLineCounts(slice, "doc_id", "text", idx4, token = "b7")
    Dedup.appendLineCounts(slice, "doc_id", "text", idx4, token = "b7")
    val out4 = Dedup.removeLinesAgainstIndex(spark,
        Seq((40L, "cookie banner\nforty")).toDF("doc_id", "text"),
        "doc_id", "text", idx4)
      .as[(Long, String, Long, Long)].collect().head
    assert(out4._4 == 0L,
      s"replayed same-token append must overwrite (sum 3 < 4), got: $out4")
  }

  test("paragraph index: standing-frequency bans, appends extend, same-token replay never double-counts") {
    val standing = Seq(
      (1L, "cookie banner\n\nalpha one"),
      (2L, "cookie banner\n\nbeta two"),
      (3L, "cookie banner\n\ngamma three"),
      (4L, "footer nav\n\ndelta four"),
      (5L, "footer nav\n\nepsilon five"))
      .toDF("doc_id", "text")
    val idx = tmpDir("graft_paraidx_") + "/idx"
    Dedup.buildParagraphIndex(standing, "doc_id", "text", idx, minDocFreq = 3)

    // "new promo" is frequent only WITHIN the probe batch: standing df 0
    val probe = Seq(
      (10L, "cookie banner\n\nnew promo\n\nten"),
      (11L, "new promo\n\neleven"),
      (12L, "new promo\n\nfooter nav\n\ntwelve"))
      .toDF("doc_id", "text")
    def run(path: String, df: org.apache.spark.sql.DataFrame = probe,
            exclude: Option[String] = None) =
      Dedup.removeParagraphsAgainstIndex(spark, df, "doc_id", "text", path,
          excludeToken = exclude)
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    val out1 = run(idx)
    assert(out1(10L) == ((10L, "new promo\n\nten", 3L, 1L)), s"${out1(10L)}")
    assert(out1(11L) == ((11L, "new promo\n\neleven", 2L, 0L)), s"${out1(11L)}")
    // "footer nav" has standing df 2 < 3: kept
    assert(out1(12L) == ((12L, "new promo\n\nfooter nav\n\ntwelve", 3L, 0L)),
      s"${out1(12L)}")

    // append a slice carrying "footer nav" once: summed df 3 -> banned
    Dedup.appendParagraphCounts(Seq((20L, "footer nav\n\nzeta"))
      .toDF("doc_id", "text"), "doc_id", "text", idx, token = "t1")
    val out2 = run(idx)
    assert(out2(12L) == ((12L, "new promo\n\ntwelve", 3L, 1L)),
      s"appended count must push footer nav over the threshold: ${out2(12L)}")

    // excludeToken: the replaying batch probes as if its delta were absent
    val out3 = run(idx, exclude = Some("t1"))
    assert(out3(12L)._4 == 0L, s"excluded delta must not count: ${out3(12L)}")

    // replay idempotence: standing df 2 + one append of df 1 = 3 < 4; a
    // double-counted same-token re-append would reach 4 and ban
    val idx4 = tmpDir("graft_paraidx4_") + "/idx"
    Dedup.buildParagraphIndex(standing.where(col("doc_id") <= 2), "doc_id",
      "text", idx4, minDocFreq = 4)
    val slice = Seq((30L, "cookie banner\n\nthirty")).toDF("doc_id", "text")
    Dedup.appendParagraphCounts(slice, "doc_id", "text", idx4, token = "b7")
    Dedup.appendParagraphCounts(slice, "doc_id", "text", idx4, token = "b7")
    val out4 = run(idx4, Seq((40L, "cookie banner\n\nforty")).toDF("doc_id", "text"))
    assert(out4(40L)._4 == 0L,
      s"replayed same-token append must overwrite (sum 3 < 4), got: ${out4(40L)}")
  }

  test("batch and index removal share one ban rule, for lines and paragraphs") {
    type Df = org.apache.spark.sql.DataFrame
    case class UnitCase(seam: String, builder: String,
                        batch: (Df, Int) => Df,
                        build: (Df, String, Int) => Unit,
                        append: (Df, String, String) => Unit,
                        probe: (Df, String) => Df)
    val cases = Seq(
      UnitCase("\n", "buildLineIndex",
        Dedup.removeFrequentLines(_, "doc_id", "text", _),
        Dedup.buildLineIndex(_, "doc_id", "text", _, _),
        Dedup.appendLineCounts(_, "doc_id", "text", _, _),
        Dedup.removeLinesAgainstIndex(spark, _, "doc_id", "text", _)),
      UnitCase("\n\n", "buildParagraphIndex",
        Dedup.removeFrequentParagraphs(_, "doc_id", "text", _),
        Dedup.buildParagraphIndex(_, "doc_id", "text", _, _),
        Dedup.appendParagraphCounts(_, "doc_id", "text", _, _),
        Dedup.removeParagraphsAgainstIndex(spark, _, "doc_id", "text", _)))
    for (c <- cases) {
      // planted chrome at df 12+1 / 8 / 4 over 24 docs: banned, banned,
      // kept at minDocFreq 5; intra-doc repeats count once per doc
      val body = (1L to 24L).map { i =>
        val units = Seq(
          Some("accept cookies to continue").filter(_ => i % 2 == 0),
          Some(s"body of doc $i"),
          Some("share this page").filter(_ => i % 3 == 0),
          Some("rare footer").filter(_ => i % 5 == 0),
          Some(" ").filter(_ => i % 4 == 1),
          Some(s"body of doc $i")).flatten
        (i, units.mkString(c.seam))
      }
      val docs = (body ++ Seq((25L, "accept cookies to continue"),
          (26L, null.asInstanceOf[String]), (27L, "")))
        .toDF("doc_id", "text")
      val idx = tmpDir("graft_unitparity_") + "/idx"
      c.build(docs, idx, 5)
      val batch = c.batch(docs, 5).orderBy("doc_id").collect().toSeq
      val probed = c.probe(docs, idx).orderBy("doc_id").collect().toSeq
      assert(batch == probed, s"${c.builder}: batch and index forms differ")
      assert(batch.map(_.getLong(0)) == ((1L to 25L) :+ 27L),
        s"${c.builder}: null text drops, every other doc stays")
      assert(batch.exists(r => r.getLong(0) == 25L && r.getString(1) == ""),
        s"${c.builder}: an all-chrome doc survives empty")
      assert(batch.count(_.getString(1).contains("rare footer")) == 4,
        s"${c.builder}: df 4 < 5 must keep the rare footer")
      assert(!batch.exists(r => r.getString(1).contains("cookies") ||
        r.getString(1).contains("share this")), s"${c.builder}: chrome left")

      val reserved = intercept[IllegalArgumentException](
        c.append(docs, idx, "base"))
      assert(reserved.getMessage ==
        s"requirement failed: token 'base' is reserved for ${c.builder}")
      val badToken = intercept[IllegalArgumentException](
        c.append(docs, idx, "b/1"))
      val unit = if (c.seam == "\n") "line" else "para"
      assert(badToken.getMessage ==
        s"requirement failed: $unit-index append token must be [A-Za-z0-9_-]+: 'b/1'")
    }
  }

  test("curate lineMinDocFreq: planted boilerplate line gone before excision, default None unchanged") {
    // distinct-word tails keep every doc through the q74 screens; the
    // shared first line is boilerplate in 3 docs, doc 4 is ONLY that
    val mk = (tail: String) => s"subscribe to our newsletter today friends\n$tail"
    val docs = Seq(
      (1L, mk("alpha beta gamma delta epsilon zeta eta theta iota kappa"), "web"),
      (2L, mk("lambda mu nu xi omicron pi rho sigma tau upsilon"), "web"),
      (3L, mk("phi chi psi omega one two three four five six"), "web"),
      (4L, "subscribe to our newsletter today friends", "web"))
      .toDF("doc_id", "text", "source")
    // q74 screens off (quality floor 0, span screen unreachable): this
    // test isolates the LINE stage — doc 4 is pure duplicated content,
    // so the winnow span screen would (correctly) drop it first and
    // mask what the line stage does
    val cfgOff = Curation.Config(budgets = Map("web" -> 1000000L),
      minQuality = 0.0, spanThreshold = 2.0)
    val cfgOn = cfgOff.copy(lineMinDocFreq = Some(3))
    val off = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, cfgOff).select("doc_id", "n_tokens")
      .as[(Long, Long)].collect().toMap
    val on = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, cfgOn).select("doc_id", "n_tokens")
      .as[(Long, Long)].collect().toMap
    // off: every doc survives whole — 15 ws-tokens for the carriers (the
    // newline glues line1's last and the tail's first word into one
    // ws-token; no 8-word span repeats, the 6-word line is below
    // exciseW), 6 for the all-boilerplate doc
    assert(off == Map(1L -> 15L, 2L -> 15L, 3L -> 15L, 4L -> 6L), s"$off")
    // on: the boilerplate line is gone from all three carriers (10-word
    // tails, newline re-normalized to space) and doc 4 drops entirely
    assert(on == Map(1L -> 10L, 2L -> 10L, 3L -> 10L), s"$on")
  }

  test("curate learned screens == curate over the pre-gated batch (frozen ppl + nb models)") {
    // distinct-word docs survive every heuristic screen, so the learned
    // gates are the only thing that can drop rows here
    val docs = Seq(
      (1L, "the cat sat on the mat quietly every day", "web"),
      (2L, "the dog sat on the rug calmly all night", "web"),
      (3L, "le chat est sur le tapis bleu ce soir", "web"),     // foreign: ppl-dropped
      (4L, "the cat sat on the rug gently this morning", "web"))
      .toDF("doc_id", "text", "source")
    val lm = tmpDir("graft_curlm_")
    graft.ops.TextAnalysis.buildBigramLm(spark,
      docs.where(col("doc_id") =!= 3L), "text", lm)
    val nb = tmpDir("graft_curnb_")
    graft.ops.TextAnalysis.buildNbModel(spark,
      docs.withColumn("label", (col("doc_id") <= 2L).cast("int")),
      "text", "label", nb)
    val cfg = Curation.Config(budgets = Map("web" -> 1000000L),
      minQuality = 0.0, spanThreshold = 2.0)
    val gated = cfg.copy(pplModel = Some(lm), pplMaxBits = 3.5,
      nbModel = Some(nb), nbMinLogOdds = -100.0)
    // the equivalence pin: the in-pipeline gates must equal pre-filtering
    // the batch with the same frozen scorers
    val admitPpl = graft.ops.TextAnalysis.bigramScoreWithModel(spark, docs,
      "doc_id", "text", lm).where(col("xent_bits") <= 3.5).select("doc_id")
    val admitNb = graft.ops.TextAnalysis.nbScoreWithModel(spark, docs,
      "doc_id", "text", nb).where(col("log_odds") > -100.0).select("doc_id")
    val pre = docs.join(admitPpl, Seq("doc_id"), "left_semi")
      .join(admitNb, Seq("doc_id"), "left_semi")
    val viaGates = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, gated).collect().map(_.toString).sorted.toSeq
    val viaPrefilter = Curation.curate(spark, pre, "doc_id", "text", "source",
      None, None, cfg).collect().map(_.toString).sorted.toSeq
    assert(viaGates == viaPrefilter && viaGates.nonEmpty)
    // and the foreign doc is actually what the ppl gate removed
    val kept = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, gated).select("doc_id").as[Long].collect().toSet
    val ungated = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, cfg).select("doc_id").as[Long].collect().toSet
    assert(ungated == Set(1L, 2L, 3L, 4L) && kept == Set(1L, 2L, 4L),
      s"ungated $ungated kept $kept")
  }

  test("curate capPerSource: highest-quality docs per source survive, default None unchanged") {
    // web: two long distinct-word docs (high q34 quality) + two short
    // ones (low); news: one doc, under any cap. Every doc survives the
    // heuristic screens, so the cap is the only thing cutting.
    val docs = Seq(
      (1L, "the curious cat quietly explored seven ancient gardens while " +
        "watching golden birds circle distant mountain peaks above", "web"),
      (2L, "a gentle river slowly carved deep winding canyons through red " +
        "stone valleys under bright morning light today", "web"),
      (3L, "short low words", "web"),
      (4L, "tiny brief text", "web"),
      (5L, "the evening train arrived exactly on schedule again", "news"))
      .toDF("doc_id", "text", "source")
    val cfg = Curation.Config(budgets =
      Map("web" -> 1000000L, "news" -> 1000000L),
      minQuality = 0.0, spanThreshold = 2.0)
    val unc = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, cfg).select("doc_id").as[Long].collect().toSet
    assert(unc == Set(1L, 2L, 3L, 4L, 5L), s"fixture sanity: $unc")
    val capped = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, cfg.copy(capPerSource = Some(2)))
      .select("doc_id").as[Long].collect().toSet
    assert(capped == Set(1L, 2L, 5L),
      s"web keeps its two long high-quality docs, news under the cap: $capped")
    // the cap rung equals pre-filtering with the same quality rank —
    // surviving rows byte-identical (offsets recomputed over survivors)
    val viaCap = Curation.curate(spark, docs, "doc_id", "text", "source",
      None, None, cfg.copy(capPerSource = Some(2)))
      .collect().map(_.toString).sorted.toSeq
    val viaPre = Curation.curate(spark,
      docs.where(col("doc_id").isin(1L, 2L, 5L)), "doc_id", "text", "source",
      None, None, cfg).collect().map(_.toString).sorted.toSeq
    assert(viaCap == viaPre)
  }

  test("curateTokens: the pipeline ends at packed id sequences that match the stages run by hand") {
    val bpe = graft.functions.TokenCounters.tinyBpe
    // distinct docs, generous budget (everything admitted), screens off —
    // the terminal's own behavior is what's under test, the screens have
    // their own specs
    val docs = Seq(
      (1L, "table data row line", "web"),
      (2L, "string integer row query", "web"),
      (3L, "small tables everywhere again", "web"),
      (10L, "alpha beta gamma delta", "books"))
      .toDF("doc_id", "text", "source")
    val cfg = Curation.Config(
      budgets = Map("web" -> 1000000L, "books" -> 1000000L),
      minQuality = 0.0, spanThreshold = 2.0, seqLen = 4)
    val out = Curation.curateTokens(spark, docs, "doc_id", "text", "source",
        None, None, cfg, bpe)
      .orderBy(col("source"), col("seq_id")).collect()
    // with everything admitted, the streams are the docs' ids in doc_id
    // order per source — exactly packTokens over the raw corpus
    val expect = Packing.packTokens(docs, "doc_id", "text", "source", 4, bpe)
      .orderBy(col("source"), col("seq_id")).collect()
    assert(out.map(_.toString).toSeq == expect.map(_.toString).toSeq)
    assert(out.forall(r => r.getSeq[Int](2).length == r.getLong(3).toInt))
    // and a budget that throttles web still packs the books stream whole
    val throttled = Curation.curateTokens(spark, docs, "doc_id", "text",
        "source", None, None,
        cfg.copy(budgets = Map("books" -> 1000000L)), bpe)
      .collect()
    assert(throttled.forall(_.getString(0) == "books"),
      "web has no budget -> web docs must not reach the packed output")
  }

  test("chunkDocs: sliding windows cover the doc, overlap repeats the seam words") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // 10 words
      (2L, "one two three"),          // <= maxWords: one chunk of itself
      (3L, "x y z w"),                // exactly maxWords
      (4L, ""),                       // no words: no chunks
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // maxWords 4, overlap 1 -> stride 3: starts 0,3,6 for n=10
    val out = Packing.chunkDocs(docs, "doc_id", "text", maxWords = 4, overlap = 1)
      .as[(Long, Int, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L), "empty/null docs chunk to nothing")
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3)).toSeq ==
      Seq((0, "a b c d"), (1, "d e f g"), (2, "g h i j")),
      s"seam words d and g must repeat across chunks: ${out.toSeq}")
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "one two three", 3L)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, "x y z w", 4L)))
    // clamped tail: n=10, maxWords=4, overlap=0 -> chunks 4/4/2
    val tail = Packing.chunkDocs(docs.where(col("doc_id") === 1L),
        "doc_id", "text", maxWords = 4)
      .as[(Long, Int, String, Long)].collect().sortBy(_._2)
    assert(tail.map(r => (r._3, r._4)).toSeq ==
      Seq(("a b c d", 4L), ("e f g h", 4L), ("i j", 2L)),
      s"overlap 0 partitions with a clamped tail: ${tail.toSeq}")
    // every word of doc 1 appears in some chunk (coverage)
    assert(tail.flatMap(_._3.split(" ")).toSet == "a b c d e f g h i j".split(" ").toSet)
  }

  test("removeFrequentLines: df >= minDocFreq lines drop everywhere, blanks exempt") {
    val docs = Seq(
      (1L, "cookie banner\nreal content one\n\nfooter nav"),
      (2L, "cookie banner\nreal content two\n\nfooter nav"),
      (3L, "cookie banner\nunique middle\nfooter nav"),
      // doc of ONLY boilerplate survives as an empty doc
      (4L, "cookie banner\nfooter nav"),
      // trim-blank line repeated everywhere is structure, never banned
      (5L, "   \nreal content five"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // null text dropped, every other doc present
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // no keeper: the banned lines vanish from EVERY doc, order kept
    assert(out(1L) == ((1L, "real content one\n", 4L, 2L)), s"${out(1L)}")
    assert(out(2L) == ((2L, "real content two\n", 4L, 2L)), s"${out(2L)}")
    assert(out(3L) == ((3L, "unique middle", 3L, 2L)), s"${out(3L)}")
    assert(out(4L) == ((4L, "", 2L, 2L)), "all-boilerplate doc survives empty")
    assert(out(5L) == ((5L, "   \nreal content five", 2L, 0L)),
      s"blank-after-trim lines are never counted or removed: ${out(5L)}")
    // below the threshold nothing bans (the df-4 lines at minDocFreq=5)
    val loose = Dedup.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 5)
      .as[(Long, String, Long, Long)].collect()
    assert(loose.forall(_._4 == 0L), s"df 4 < minDocFreq 5 must keep all: ${loose.toSeq}")
  }

  test("collapseRepeats: stuttered boilerplate collapses to one copy, covered echoes survive") {
    val docs = Seq(
      // "spam spam ... spam" ×8 at w=2: one gram repeated 7× -> "spam spam"
      (1L, "spam spam spam spam spam spam spam spam"),
      // a long stuttered line inside normal text collapses, tail kept
      (2L, "begin alpha beta gamma alpha beta gamma alpha beta gamma end"),
      (3L, "perfectly normal diverse words with no repeats at all"))
      .toDF("doc_id", "text")
    val out = Dedup.collapseRepeats(docs, "doc_id", "text", w = 2)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "spam spam" && out(1L)._4 == 6L,
      s"pure stutter collapses to the first period: ${out(1L)}")
    assert(out(3L)._2 == "perfectly normal diverse words with no repeats at all" &&
      out(3L)._4 == 0L)
    // doc 2 at w=2: interior repeat positions not covered by any first
    // occurrence are removed — hand-traced: positions {6,7,8,9} drop
    assert(out(2L)._2 == "begin alpha beta gamma alpha gamma end" &&
      out(2L)._4 == 4L, s"stuttered passage shrinks by the traced set: ${out(2L)}")
    // the conservative coverage rule: "x a a a y" at w=2 keeps everything
    // (every position is covered by some gram's first occurrence)
    val echo = Dedup.collapseRepeats(
      Seq((10L, "x a a a y")).toDF("doc_id", "text"), "doc_id", "text", w = 2)
      .as[(Long, String, Long, Long)].collect().head
    assert(echo._2 == "x a a a y" && echo._4 == 0L,
      s"covered echo must survive: $echo")
  }

  test("gram index: standing spans excised from new batches; appends extend the screen") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // w=8 words
    val dir = tmpDir("graft_gramidx_")
    Dedup.buildGramIndex(Seq(
        (1L, s"corpus doc carrying $passage inside it for later arrivals"),
        (2L, "other corpus content entirely unrelated to anything else"))
        .toDF("doc_id", "text"), "text", dir, w = 8)
    val batch = Seq(
      (10L, s"$passage fresh tail that the corpus has never seen"),
      (11L, "completely novel document with no standing spans at all"),
      (12L, passage)) // nothing BUT the standing span
      .toDF("doc_id", "text")
    val out = Dedup.exciseAgainstIndex(spark, batch, "doc_id", "text", dir)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._2 == "fresh tail that the corpus has never seen" &&
      out(10L)._4 == 8L, s"standing span excised: ${out(10L)}")
    assert(out(11L)._2 == "completely novel document with no standing spans at all" &&
      out(11L)._4 == 0L)
    assert(out(12L)._2 == "" && out(12L)._4 == 8L,
      s"fully-duplicated doc empties: ${out(12L)}")
    // admit a new batch's grams; its spans now screen the NEXT batch
    val novel = "one two three four five six seven eight"
    Dedup.appendGrams(spark,
      Seq((20L, s"$novel plus some extra words here")).toDF("doc_id", "text"),
      "text", dir)
    val out2 = Dedup.exciseAgainstIndex(spark,
        Seq((30L, s"intro words then $novel and a closing run"))
          .toDF("doc_id", "text"), "doc_id", "text", dir)
      .as[(Long, String, Long, Long)].collect().head
    assert(out2._2 == "intro words then and a closing run" && out2._4 == 8L,
      s"appended grams must screen later batches: $out2")
    // docs shorter than w screen by FULL-TEXT identity: an admitted
    // short doc empties its duplicates, a different short doc survives
    Dedup.appendGrams(spark,
      Seq((40L, "tiny short corpus line")).toDF("doc_id", "text"), "text", dir)
    val shorts = Dedup.exciseAgainstIndex(spark, Seq(
        (50L, "tiny short corpus line"),
        (51L, "different tiny short line")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(shorts(50L)._2 == "" && shorts(50L)._4 == 4L,
      s"duplicate short doc empties: ${shorts(50L)}")
    assert(shorts(51L)._2 == "different tiny short line" && shorts(51L)._4 == 0L)
    // duplicate-free append: re-admitting the same docs adds no rows
    val nGrams = spark.read.parquet(s"$dir/grams").count()
    Dedup.appendGrams(spark,
      Seq((60L, s"$novel plus some extra words here"),
        (61L, "tiny short corpus line")).toDF("doc_id", "text"), "text", dir)
    assert(spark.read.parquet(s"$dir/grams").count() == nGrams,
      "recurring spans must not grow the index")
    // invariant: bloom covers every persisted gram (no false negatives)
    val bloom = Dedup.readBloom(spark, dir)
    assert(spark.read.parquet(s"$dir/grams").as[String].collect()
      .forall(bloom.mightContainString))
  }

  test("repetitionSignals: degenerate repetition flagged, diverse text low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "all work and no play makes jack a dull boy since forever"),
      (3L, "ab cd ab cd ab cd ab cd"),
      (4L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // 8×"spam": 7 bigrams, 1 distinct → dup 6/7, share 7/7
    assert(out(1L)._2 == math.rint(6.0 / 7 * 10000) / 10000)
    assert(out(1L)._3 == 1.0)
    assert(out(2L)._2 == 0.0 && out(2L)._3 < 0.15, "diverse text scores low")
    // "ab cd"×4: 7 bigrams, 2 distinct ("ab cd"×4, "cd ab"×3)
    assert(out(3L)._2 == math.rint(5.0 / 7 * 10000) / 10000)
    assert(out(3L)._3 == math.rint(4.0 / 7 * 10000) / 10000)
    assert(out(4L) == ((4L, 0.0, 0.0, 0.0, 0.0)), "sub-n-gram doc is all zeros")
  }

  test("pack: straddling docs span chunks, shards independent, repartition-stable") {
    val docs = Seq(
      // shard A: 300 + 300 + 100 tokens, seqLen 256
      (1L, "A", 300L), (2L, "A", 300L), (3L, "A", 100L),
      // shard B independent stream
      (10L, "B", 10L), (11L, "B", 250L))
      .toDF("doc_id", "shard", "n")
    val out = Packing.pack(docs, "doc_id", "n", "shard", seqLen = 256)
      .select("doc_id", "start_off", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 0L, 0L, 1L)), "doc 1 straddles chunks 0-1 (0..299)")
    assert(out(2L) == ((2L, 300L, 1L, 2L)), "doc 2 spans 300..599 -> chunks 1-2")
    assert(out(3L) == ((3L, 600L, 2L, 2L)), "doc 3 fits inside chunk 2")
    assert(out(10L) == ((10L, 0L, 0L, 0L)), "shard B restarts at offset 0")
    assert(out(11L) == ((11L, 10L, 0L, 1L)), "10..259 straddles chunks 0-1")
    // exact-boundary doc: ends precisely at a chunk edge
    val edge = Packing.pack(
      Seq((1L, "X", 256L), (2L, "X", 256L)).toDF("doc_id", "shard", "n"),
      "doc_id", "n", "shard", seqLen = 256)
      .select("doc_id", "seq_first", "seq_last")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(edge(1L) == ((1L, 0L, 0L)) && edge(2L) == ((2L, 1L, 1L)),
      "a doc ending exactly on a boundary must not bleed into the next chunk")
    // offsets are a pure function of (shard, id) order — not partitioning
    val a = Packing.pack(docs, "doc_id", "n", "shard", 256)
      .select("doc_id", "start_off").as[(Long, Long)].collect().toSet
    val b = Packing.pack(docs.repartition(7), "doc_id", "n", "shard", 256)
      .select("doc_id", "start_off").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("packTokens: materialized ids reassemble each shard's stream; pack agreement") {
    val bpe = graft.functions.TokenCounters.tinyBpe
    val docs = Seq(
      (1L, "A", "table data table"),   // 1 + 3 + 1 = 5 tokens
      (2L, "A", "row"),                // 1 token
      (3L, "A", "q w"),                // 2 tokens (qu? no 'q w': q→1? 'q' alone =1, 'w'=1) → 2
      (10L, "B", "str line"),          // 2 + 2? str=1 (st+r? s t→st, st r→str)=1; line: l,ine →2 → 3 total
      (11L, "B", null))
      .toDF("doc_id", "shard", "text")
    val out = Packing.packTokens(docs, "doc_id", "text", "shard",
        seqLen = 4, bpe)
      .orderBy(col("shard"), col("seq_id")).collect()
    // expected streams, straight from the encoder
    val streamA = bpe.encodeTokens("table data table") ++
      bpe.encodeTokens("row") ++ bpe.encodeTokens("q w")
    val streamB = bpe.encodeTokens("str line")
    val expect = (streamA.grouped(4).toSeq.map("A" -> _) ++
      streamB.grouped(4).toSeq.map("B" -> _)).zipWithIndex
    assert(out.length == streamA.length / 4 + (if (streamA.length % 4 > 0) 1 else 0)
      + streamB.length / 4 + (if (streamB.length % 4 > 0) 1 else 0))
    out.foreach { r =>
      val shard = r.getString(0); val seq = r.getLong(1)
      val ids = r.getSeq[Int](2)
      val n = r.getLong(3)
      val stream = if (shard == "A") streamA else streamB
      assert(ids == stream.slice(seq.toInt * 4, seq.toInt * 4 + 4).toSeq,
        s"$shard/$seq")
      assert(n == ids.length.toLong)
      assert(ids.length == 4 || (seq.toInt * 4 + ids.length) == stream.length,
        "only each shard's LAST sequence may be short")
    }
    // agreement with pack: a doc's ids occupy exactly seq_first..seq_last
    val counted = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("shard"),
        graft.functions.TokenCounters.count(bpe, col("text")).as("n"))
    val packed = Packing.pack(counted, "doc_id", "n", "shard", seqLen = 4)
      .select("doc_id", "start_off", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect()
    packed.foreach { case (id, off, f, l) =>
      val n = counted.where(col("doc_id") === id)
        .select("n").as[Long].head()
      if (n > 0) {
        assert(f == off / 4 && l == (off + n - 1) / 4,
          s"doc $id: pack bounds must match its token span")
      }
    }
    // doc_starts: the in-sequence offsets where each doc's stream
    // begins — derived independently from the encoder's counts
    val startsA = Seq("table data table", "row", "q w")
      .map(bpe.countTokens).scanLeft(0L)(_ + _).dropRight(1)
    val startsB = Seq(0L)
    out.foreach { r =>
      val shard = r.getString(0); val seq = r.getLong(1)
      val all = if (shard == "A") startsA else startsB
      val expect = all.filter(_ / 4 == seq).map(g => (g % 4).toInt).sorted
      assert(r.getSeq[Int](4) == expect, s"doc_starts $shard/$seq")
    }
    // padId: every row fixed-width, pad fills ONLY the tail, n_tokens
    // and doc_starts unchanged
    val padded = Packing.packTokens(docs, "doc_id", "text", "shard", 4,
        bpe, padId = Some(-1))
      .orderBy(col("shard"), col("seq_id")).collect()
    padded.zip(out).foreach { case (p, o) =>
      assert(p.getSeq[Int](2).length == 4)
      assert(p.getSeq[Int](2).take(o.getLong(3).toInt) == o.getSeq[Int](2))
      assert(p.getSeq[Int](2).drop(o.getLong(3).toInt).forall(_ == -1))
      assert(p.getLong(3) == o.getLong(3) && p.getSeq[Int](4) == o.getSeq[Int](4))
    }
    // repartition-stable (the offsets are order-derived, not physical)
    val again = Packing.packTokens(docs.repartition(7), "doc_id", "text",
        "shard", 4, bpe)
      .orderBy(col("shard"), col("seq_id")).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2))).toSeq)
  }

  test("tokenizerFertility: ids/words and chars/id from encoder truth") {
    val bpe = graft.functions.TokenCounters.tinyBpe
    val docs = Seq(
      (1L, "en", "table data"), (2L, "en", "row str"),
      (3L, "xx", "zzzz qqqq pppp"), (4L, "xx", null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "text")
    val out = Packing.tokenizerFertility(docs, "text", "lang", bpe)
      .collect().map(r => r.getString(0) -> r).toMap
    def truth(texts: Seq[String]) = {
      val words = texts.map(_.split(" ").count(_.nonEmpty)).sum
      val ids = texts.map(bpe.encodeTokens(_).length).sum
      val chars = texts.map(_.length).sum
      (words.toLong, ids.toLong, chars, ids.toDouble / words, chars.toDouble / ids)
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (enW, enI, _, enF, enC) = truth(Seq("table data", "row str"))
    val en = out("en")
    assert(en.getLong(1) == 2L && en.getLong(2) == enW && en.getLong(3) == enI)
    assert(en.getDouble(4) == r6(enF) && en.getDouble(5) == r6(enC))
    // the unknown-word language pays more ids per word than English
    val xx = out("xx")
    assert(xx.getLong(1) == 1L, "null text drops")
    assert(xx.getDouble(4) > en.getDouble(4),
      s"unmergeable words must show higher fertility: $xx vs $en")
  }

  test("tokenizedCard prices the pack without the pack shuffle") {
    val bpe = graft.functions.TokenCounters.tinyBpe
    val docs = Seq(
      (1L, "A", "table data table"),
      (2L, "A", "row"),
      (3L, "A", "q w"),
      (10L, "B", "str line"),
      (11L, "B", null),
      (12L, "B", "   "))              // 0 tokens: not a contributing doc
      .toDF("doc_id", "shard", "text")
    val card = Packing.tokenizedCard(docs, "doc_id", "text", "shard",
        seqLen = 4, bpe, topN = 2)
      .orderBy(col("shard")).collect()
    // independent truth straight from the encoder
    val streams = Map(
      "A" -> Seq("table data table", "row", "q w").flatMap(bpe.encodeTokens),
      "B" -> Seq("str line").flatMap(bpe.encodeTokens))
    assert(card.length == 2)
    card.foreach { r =>
      val s = streams(r.getString(0))
      assert(r.getLong(2) == s.length.toLong, "n_tokens")
      assert(r.getLong(3) == (s.length + 3) / 4, "n_seqs = ceil(tokens/4)")
      assert(r.getInt(4) == (if (s.length % 4 != 0) 1 else 0), "n_short")
      assert(r.getLong(5) == s.distinct.length.toLong, "distinct_ids")
      val top2 = s.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (id, c) => (-c, id) }.take(2).map(_._1)
      assert(r.getSeq[Int](6) == top2, "top_ids (count desc, id asc)")
    }
    assert(card.find(_.getString(0) == "A").get.getLong(1) == 3L)
    assert(card.find(_.getString(0) == "B").get.getLong(1) == 1L, // null + blank drop
      "n_docs counts only contributing docs")
    // the arithmetic card agrees with what packTokens actually emits
    val packed = Packing.packTokens(docs, "doc_id", "text", "shard", 4, bpe)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_tokens")).as("n_tokens"),
        count(when(col("n_tokens") < 4, lit(1))).as("n_short"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    card.foreach { r =>
      val (ns, nt, nsh) = packed(r.getString(0))
      assert(r.getLong(3) == ns && r.getLong(2) == nt &&
        r.getInt(4).toLong == nsh)
    }
  }

  test("representatives: best-scoring member kept per cluster, ties to lowest id") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (10L, 10L), (11L, 10L))       // cluster 10
      .toDF("doc_id", "cluster")
    val scores = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), // 2 and 3 tie on score -> keep 2
      (10L, 0.3), (11L, 0.8))
      .toDF("doc_id", "score")
    val out = Dedup.representatives(clusters, scores, "score")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 10L -> 0L, 11L -> 1L),
      s"got $out")
  }

  test("componentsStar: empty and single-pair inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.componentsStar(empty).count() == 0)
    val one = Seq((7L, 3L)).toDF("d1", "d2")
    val out = Dedup.componentsStar(one).as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 3L, 7L -> 3L))
  }

  test("components: transitive chains collapse to min-label clusters") {
    // chain 1-2-3-4 (via pairwise links), separate pair 10-11, and a
    // long path 20-21-22-23-24 exercising multi-round propagation
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
      (30L, 31L), (31L, 32L), (32L, 30L)) // cycle
      .toDF("d1", "d2")
    val out = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(out(_) == 1L), "chain collapses to min member")
    assert(out(10L) == 10L && out(11L) == 10L)
    assert((20L to 24L).forall(out(_) == 20L), "long path needs >1 round and converges")
    assert((30L to 32L).forall(out(_) == 30L), "cycles converge, no oscillation")
    assert(out.size == 14, "every doc in a pair gets exactly one label")
  }

  test("componentsStar == components == local union-find on seeded random graphs") {
    val rng = new scala.util.Random(41)
    (1 to 3).foreach { trial =>
      val n = 60
      val pairs = List.fill(80)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .toDF("d1", "d2")
      // localThreshold = 0 forces the distributed paths; the default runs
      // the driver union-find — all three labellings must agree exactly
      val lp = Dedup.components(pairs, maxIter = 40, localThreshold = 0)
        .as[(Long, Long)].collect().toMap
      val st = Dedup.componentsStar(pairs, localThreshold = 0)
        .as[(Long, Long)].collect().toMap
      val uf = Dedup.componentsStar(pairs).as[(Long, Long)].collect().toMap
      assert(st == lp, s"trial $trial: star and label-prop disagree")
      assert(uf == lp, s"trial $trial: local union-find and label-prop disagree")
      assert(Dedup.components(pairs).as[(Long, Long)].collect().toMap == lp,
        s"trial $trial: components' local path disagrees")
    }
  }

  test("componentsStar: long-chain worst case converges in O(log n) rounds") {
    // a 200-node path — diameter 199, far beyond any label-prop round
    // budget; star contraction (forced distributed) must still collapse
    // it to one cluster within the 15-round budget
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = Dedup.componentsStar(pairs, maxIter = 15, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 200 && out.values.forall(_ == 0L), "one cluster rooted at 0")
    // self-pair-only nodes label themselves; mixed nodes keep the component label
    val withSelf = pairs.union(Seq((500L, 500L), (0L, 0L)).toDF("d1", "d2"))
    val out2 = Dedup.componentsStar(withSelf, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(out2(500L) == 500L && out2(0L) == 0L && out2.size == 201)
    // the default (local union-find) path handles the same self-pair mix
    val out3 = Dedup.componentsStar(withSelf).as[(Long, Long)].collect().toMap
    assert(out3 == out2, "local path must agree on the self-pair mix")
  }

  test("components falls back to star contraction when maxIter is too small") {
    val pairs = (0L until 80L).map(i => (i, i + 1)).toDF("d1", "d2")
    // diameter 80 >> maxIter 3: label-prop (forced distributed) cannot
    // converge; the fallback must still return the correct single cluster
    val out = Dedup.components(pairs, maxIter = 3, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(out.size == 81 && out.values.forall(_ == 0L))
  }

  test("winnowing: docs sharing a >=t match share a fingerprint; short docs covered") {
    val shared = "zqxjkvbnmw-shared-run-0123456789" // 32 chars >= t=16
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different head $shared tail omega"),
      (3L, "no overlap with the others at all, promise"),
      (4L, "tiny"), // shorter than k=8: whole-text gram
      (5L, "")) // empty text still fingerprints
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(docs, "doc_id", "text", k = 8, t = 16)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "guarantee: a common substring of length >= t must yield a shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs share nothing")
    assert(fps(4L).nonEmpty && fps(5L).nonEmpty, "short/empty docs still fingerprint")
    // density: selected fingerprints are a strict subset of all gram hashes
    val allGrams1 = (0 to docs.where($"doc_id" === 1L).as[(Long, String)].collect()
      .head._2.length - 8).size
    assert(fps(1L).size < allGrams1, "winnowing must select a sparse subset")
  }

  private def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"JDK cannot encode $fmt")
    out.toByteArray
  }

  test("multimodal: resize shrinks oversized images, keeps aspect, passes non-images") {
    val payloads = Seq(
      (1L, imageBytes("png", 200, 100)), // shrink 2x -> 100x50
      (2L, imageBytes("png", 50, 40)),   // under the cap: untouched dims
      (3L, "not an image".getBytes("UTF-8")))
    val out = Multimodal.resizeImages(spark, payloads.toDF("doc_id", "payload"),
        maxW = 100, maxH = 100)
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).width == 100 && out(1L).height == 50 && out(1L).format == "png")
    // re-decode the resized payload: round-trips at the new dimensions
    val meta1 = Multimodal.ImageDecoder.decode(out(1L).payload)
    assert(meta1.contains((100L, 50L, "png")))
    assert(out(2L).width == 50 && out(2L).height == 40)
    assert(out(3L).format == "passthrough" &&
      (out(3L).payload sameElements "not an image".getBytes("UTF-8")))
  }

  test("multimodal: truncated image payload passes through instead of failing the job") {
    // valid PNG magic, body cut off mid-stream: ImageIO.read throws
    val truncated = imageBytes("png", 64, 64).take(24)
    val out = Multimodal.resizeImages(spark,
        Seq((1L, truncated)).toDF("doc_id", "payload"), maxW = 32, maxH = 32)
      .collect().head
    assert(out.format == "passthrough" && (out.payload sameElements truncated))
  }

  test("multimodal: real image payloads decode actual dimensions via ImageIO") {
    val payloads = Seq(
      (1L, imageBytes("png", 123, 45)),
      (2L, imageBytes("jpg", 64, 32)),
      (3L, imageBytes("gif", 10, 20)),
      (4L, imageBytes("bmp", 7, 9)),
      (5L, "not an image".getBytes("UTF-8")))
    val df = payloads.toDF("doc_id", "payload")
    val meta = Multimodal.extractMeta(spark, df)
      .collect().map(m => m.doc_id -> ((m.width, m.height, m.format))).toMap
    assert(meta(1L) == ((123L, 45L, "png")))
    assert(meta(2L) == ((64L, 32L, "jpeg")))
    assert(meta(3L) == ((10L, 20L, "gif")))
    assert(meta(4L) == ((7L, 9L, "bmp")))
    assert(meta(5L)._3 == "stub", "unrecognised bytes fall back to the stub")
  }
}

/** Fake AV codec for the MediaDecoder SPI test: claims payloads with the
  * 'FAKV' magic, declines everything else (so the chain falls through).
  * Top-level with a no-arg constructor, as the reflection contract needs.
  */
class FakeAvDecoder extends Multimodal.MediaDecoder {
  def decode(p: Array[Byte]): Option[(Long, Long, String)] =
    if (p.length >= 4 && p(0) == 'F' && p(1) == 'A' && p(2) == 'K' && p(3) == 'V')
      Some((1920L, 1080L, "fakevideo"))
    else None
}
