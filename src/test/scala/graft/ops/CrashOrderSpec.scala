package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** FAULT-INJECTED proofs of the crash-ordering contracts the persisted
  * index layouts document ([[FaultyFs]] fails one targeted rename):
  *
  *  - appendExactKeys / appendGrams: the Bloom delta commits BEFORE the
  *    keys/grams append, so a crash between the two leaves extra filter
  *    bits (false positives, absorbed by the exact verify) — never a
  *    stranded key the filter doesn't know (a persistent false
  *    negative). The replay then completes the append.
  *  - IndexMaintenance.compact: the rename-aside swap leaves a COMPLETE
  *    layout at every crash point — live dir before the first rename,
  *    staged `_compact_tmp` between the renames (recovery = one
  *    rename), live dir again after the second.
  */
class CrashOrderSpec extends SparkSpec {
  import spark.implicits._

  private def faultyDir(prefix: String): String = {
    FaultyFs.install(spark.sparkContext.hadoopConfiguration)
    "faulty://" + tmpDir(prefix)
  }

  private def noInjection(): Unit = FaultyFs.failWhen = None

  // fail final committer renames into `sub/` (task/job commit dsts hold
  // `_temporary`; only the final files land directly under `sub/`)
  private def failAppendsInto(sub: String): Unit =
    FaultyFs.failWhen = Some(p =>
      p.contains(s"/$sub/") && p.endsWith(".parquet") &&
        !p.contains("_temporary"))

  test("appendExactKeys crash after Bloom merge: extra bits only, exact replay") {
    val idx = faultyDir("graft_crash_keys_")
    try {
      val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      Dedup.buildExactKeyIndex(corpus, "text", idx)
      val batch = Seq((10L, "gamma"), (11L, "delta")).toDF("doc_id", "text")

      failAppendsInto("keys")
      assertThrows[Exception](Dedup.appendExactKeys(spark, batch, "text", idx))
      noInjection()

      // keys/ unchanged — the append never committed
      assert(spark.read.parquet(s"$idx/keys").count() == 2)
      // the filter DID learn the batch (the documented crash residue:
      // extra bits — these rows now Bloom-positive without a key row)
      val bloom = Dedup.readBloom(spark, idx)
      assert(bloom.mightContainString(md5Hex("gamma")),
        "Bloom delta must commit before the keys append")
      // contract: extra bits are false POSITIVES, absorbed by the exact
      // verify — the batch still screens as fresh (no silent drop)
      val admitted = Dedup.exactDedupAgainstIndex(spark, batch, "text", idx)
      assert(admitted.count() == 2,
        "false positives must be verified away, not drop rows")

      // replay completes the append; now the rows screen as duplicates
      Dedup.appendExactKeys(spark, batch, "text", idx)
      assert(spark.read.parquet(s"$idx/keys").count() == 4)
      assert(Dedup.exactDedupAgainstIndex(spark, batch, "text", idx).count() == 0)
    } finally noInjection()
  }

  test("appendLineCounts crash: index unchanged, replay overwrites to the crash-free state") {
    val idx = faultyDir("graft_crash_lines_")
    try {
      // standing "cookie banner" df 2, threshold 3
      Dedup.buildLineIndex(Seq(
          (1L, "cookie banner\nstanding one"),
          (2L, "cookie banner\nstanding two")).toDF("doc_id", "text"),
        "doc_id", "text", idx, minDocFreq = 3)
      val batch = Seq((10L, "cookie banner\nbatch ten")).toDF("doc_id", "text")
      // the sink order: probe (excluding own token) -> output -> append.
      // First run's probe output:
      val probe1 = Dedup.removeLinesAgainstIndex(spark, batch, "doc_id",
        "text", idx, excludeToken = Some("b1"))
        .collect().map(_.toString).sorted.toSeq

      failAppendsInto("delta=b1")
      assertThrows[Exception](
        Dedup.appendLineCounts(batch, "doc_id", "text", idx, token = "b1"))
      noInjection()

      // a crashed append leaves NO committed delta rows for its token —
      // counts never partially double
      assert(spark.read.parquet(s"$idx/lines")
        .where(col("delta") === "b1").count() == 0,
        "crashed append must not leave committed count rows")
      // replay: the excluded probe is BYTE-identical to the first run
      // (the exact-convergence contract of lineRemovalSink)
      val probe2 = Dedup.removeLinesAgainstIndex(spark, batch, "doc_id",
        "text", idx, excludeToken = Some("b1"))
        .collect().map(_.toString).sorted.toSeq
      assert(probe2 == probe1, "replayed probe must equal the first run")
      // replayed append overwrites into the crash-free state: summed df
      // 3 bans for the NEXT carrier, and a SECOND replay changes nothing
      Dedup.appendLineCounts(batch, "doc_id", "text", idx, token = "b1")
      Dedup.appendLineCounts(batch, "doc_id", "text", idx, token = "b1")
      val next = Dedup.removeLinesAgainstIndex(spark,
          Seq((20L, "cookie banner\ntwenty")).toDF("doc_id", "text"),
          "doc_id", "text", idx)
        .select("clean_text").as[String].head()
      assert(next == "twenty", s"summed df 3 must ban: '$next'")
    } finally noInjection()
  }

  test("appendParagraphCounts crash: index unchanged, replay overwrites to the crash-free state") {
    val idx = faultyDir("graft_crash_paras_")
    try {
      // standing "cookie banner para" df 2, threshold 3
      Dedup.buildParagraphIndex(Seq(
          (1L, "cookie banner para\n\nstanding one"),
          (2L, "cookie banner para\n\nstanding two")).toDF("doc_id", "text"),
        "doc_id", "text", idx, minDocFreq = 3)
      val batch = Seq((10L, "cookie banner para\n\nbatch ten"))
        .toDF("doc_id", "text")
      // the sink order: probe (excluding own token) -> output -> append.
      val probe1 = Dedup.removeParagraphsAgainstIndex(spark, batch, "doc_id",
        "text", idx, excludeToken = Some("b1"))
        .collect().map(_.toString).sorted.toSeq

      failAppendsInto("delta=b1")
      assertThrows[Exception](
        Dedup.appendParagraphCounts(batch, "doc_id", "text", idx, token = "b1"))
      noInjection()

      // a crashed append leaves NO committed delta rows for its token
      assert(spark.read.parquet(s"$idx/paras")
        .where(col("delta") === "b1").count() == 0,
        "crashed append must not leave committed count rows")
      // replay: the excluded probe is BYTE-identical to the first run
      // (the exact-convergence contract of paragraphRemovalSink)
      val probe2 = Dedup.removeParagraphsAgainstIndex(spark, batch, "doc_id",
        "text", idx, excludeToken = Some("b1"))
        .collect().map(_.toString).sorted.toSeq
      assert(probe2 == probe1, "replayed probe must equal the first run")
      // replayed append overwrites into the crash-free state: summed df
      // 3 bans for the NEXT carrier, and a SECOND replay changes nothing
      Dedup.appendParagraphCounts(batch, "doc_id", "text", idx, token = "b1")
      Dedup.appendParagraphCounts(batch, "doc_id", "text", idx, token = "b1")
      val next = Dedup.removeParagraphsAgainstIndex(spark,
          Seq((20L, "cookie banner para\n\ntwenty")).toDF("doc_id", "text"),
          "doc_id", "text", idx)
        .select("clean_text").as[String].head()
      assert(next == "twenty", s"summed df 3 must ban: '$next'")
    } finally noInjection()
  }

  test("appendGrams crash after Bloom merge: no false excision, replay excises") {
    val idx = faultyDir("graft_crash_grams_")
    try {
      val corpus = Seq((1L, "one two three four five six seven eight nine"))
        .toDF("doc_id", "text")
      Dedup.buildGramIndex(corpus, "text", idx, w = 8)
      val batch = Seq((10L, "ten eleven twelve thirteen fourteen fifteen sixteen seventeen"))
        .toDF("doc_id", "text")

      failAppendsInto("grams")
      assertThrows[Exception](Dedup.appendGrams(spark, batch, "text", idx))
      noInjection()

      // the filter knows the batch grams, grams/ does not: probing the
      // SAME text must not excise a word (Bloom hit -> exact verify
      // miss), the false-positive-only crash contract
      val probe = Dedup.exciseAgainstIndex(spark, batch, "doc_id", "text", idx)
      assert(probe.select("n_excised").as[Long].head() == 0L,
        "a half-committed append must never excise")

      // replay: grams land; the same text now excises to emptiness
      Dedup.appendGrams(spark, batch, "text", idx)
      val after = Dedup.exciseAgainstIndex(spark, batch, "doc_id", "text", idx)
      assert(after.select("clean_text").as[String].head() == "")
    } finally noInjection()
  }

  test("compact interrupted between renames: staged layout complete, one-rename recovery") {
    val dir = faultyDir("graft_crash_compact_") + "/keys"
    try {
      (1 to 100).toDF("k").repartition(8).write.parquet(dir)
      val before = spark.read.parquet(dir).as[Int].collect().sorted.toSeq
      val livePath = new java.net.URI(dir).getPath

      FaultyFs.failWhen = Some(_ == livePath) // the SECOND rename's dst
      val e = intercept[IllegalArgumentException](
        IndexMaintenance.compact(spark, dir, None))
      assert(e.getMessage.contains("interrupted between renames"))
      noInjection()

      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new Path(dir)), "live dir moved aside")
      // the staged copy is COMPLETE and the old layout is preserved
      assert(spark.read.parquet(dir + "_compact_tmp")
        .as[Int].collect().sorted.toSeq == before)
      assert(spark.read.parquet(dir + "_compact_old")
        .as[Int].collect().sorted.toSeq == before)
      // documented recovery: ONE rename
      assert(fs.rename(new Path(dir + "_compact_tmp"), new Path(dir)))
      assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == before)
      // count via the plain local path: RawLocalFileSystem cannot load
      // permissions for a foreign scheme in recursive listings
      assert(IndexMaintenance.dataFileCount(spark, livePath) == 1, "compacted")
    } finally noInjection()
  }

  test("compact aborted at the first rename: live layout untouched, rerun succeeds") {
    val dir = faultyDir("graft_crash_compact1_") + "/keys"
    try {
      (1 to 50).toDF("k").repartition(4).write.parquet(dir)
      val before = spark.read.parquet(dir).as[Int].collect().sorted.toSeq

      FaultyFs.failWhen = Some(_.endsWith("_compact_old")) // the FIRST rename
      val e = intercept[IllegalArgumentException](
        IndexMaintenance.compact(spark, dir, None))
      assert(e.getMessage.contains("layout untouched"))
      noInjection()

      // nothing moved: the live dir still serves reads
      assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == before)
      // a rerun (the documented recovery for this window) completes
      IndexMaintenance.compact(spark, dir, None)
      assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == before)
      assert(IndexMaintenance.dataFileCount(spark,
        new java.net.URI(dir).getPath) == 1)
    } finally noInjection()
  }

  test("rebuild interrupted between renames: staged layout complete, one-rename recovery; probes intact") {
    val dir = faultyDir("graft_crash_rebuild_") + "/idx"
    try {
      val emb = (0L until 60L).map(i =>
          (i, Seq.fill(8)(((i * 31 + 7) % 13 - 6).toFloat / 7f)))
        .toDF("vec_id", "embedding")
      Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding", dir,
        nCells = 4)
      val livePath = new java.net.URI(dir).getPath
      val probe = () => spark.read.parquet(dir + "/data").count()
      val before = probe()

      FaultyFs.failWhen = Some(_ == livePath) // the SECOND rename's dst
      val e = intercept[IllegalArgumentException](
        IndexMaintenance.rebuild(spark, dir, "vec_id"))
      assert(e.getMessage.contains("interrupted between renames"))
      noInjection()

      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new Path(dir)), "live layout moved aside")
      // the staged layout is a COMPLETE index (centroids + meta + data)
      assert(spark.read.parquet(dir + "_compact_tmp/centroids").count() == 4)
      assert(spark.read.parquet(dir + "_compact_tmp/data").count() == before)
      assert(Similarity.readIndexMeta(spark, dir + "_compact_tmp")
        .get("layout").contains("ivf_int8"))
      // the old layout is preserved whole
      assert(spark.read.parquet(dir + "_compact_old/data").count() == before)
      // documented recovery: ONE rename, then the layout serves probes
      assert(fs.rename(new Path(dir + "_compact_tmp"), new Path(dir)))
      assert(probe() == before)
      assert(Similarity.codeRebuildDrift(spark, dir, "vec_id")
        .agg(org.apache.spark.sql.functions.sum("n_stored")).as[Long].head() == before)
    } finally noInjection()
  }

  test("pqIndexSink crash at the data append: no partial rows visible, replay converges exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val wd = faultyDir("graft_crash_pqsink_")
    try {
      val rng = new scala.util.Random(43)
      def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
      val initial = (100L until 140L).map(i => (i, vec()))
      Similarity.buildPqIndex(initial.toDF("vec_id", "embedding"),
        "vec_id", "embedding", wd, m = 4, nCodes = 8)
      val mem = MemoryStream[(Long, Seq[Double])]
      def start() = graft.streaming.Streams.pqIndexSink(spark,
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        wd, s"$wd/ckpt")
      mem.addData((1L to 5L).map(i => (i, vec())): _*)

      // first attempt: the final committer rename into data/ dies
      failAppendsInto("data")
      val q1 = start()
      val died = try { q1.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q1.stop(); noInjection() }
      assert(died, "injected data-append rename must kill the first attempt")

      // the crash left NOTHING partial: the committer stages under
      // _temporary and only the final rename was killed, so the index
      // still holds exactly the batch-built corpus and probes still work
      assert(spark.read.parquet(s"$wd/data").count() == 40,
        "failed append must not leak partial rows")
      assert(Similarity.pqIndexTopK(spark, wd, "vec_id",
        initial.head._2.toArray, k = 3).count() == 3)

      // replay from the same checkpoint: the batch lands exactly once
      // (nothing committed in attempt 1 — at-least-once collapses to
      // exactly-once in this window)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val data = spark.read.parquet(s"$wd/data")
      assert(data.count() == 45, s"replay must complete the append: ${data.count()}")
      assert(data.filter(col("vec_id") <= 5L).count() == 5,
        "each streamed row lands exactly once")
    } finally noInjection()
  }

  test("nbGateSink crash at the output append: no partial rows, replay re-emits identically, compactOutput converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val wd = faultyDir("graft_crash_nbgate_")
    try {
      val train = Seq(
        (1L, "good clean prose here", 1), (2L, "good signal rich text", 1),
        (3L, "spam click bait spam", 0), (4L, "bait noise spam junk", 0))
        .toDF("doc_id", "text", "label")
      TextAnalysis.buildNbModel(spark, train, "text", "label", s"$wd/model")
      val mem = MemoryStream[(Long, String)]
      def start() = graft.streaming.Streams.nbGateSink(spark,
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$wd/model", s"$wd/out", s"$wd/ckpt")
      mem.addData((10L, "clean prose signal"), (11L, "spam bait click"))
      val q0 = start()
      try q0.processAllAvailable() finally q0.stop()
      val afterB0 = spark.read.parquet(s"$wd/out").collect().map(_.toString).sorted

      // batch 2's final committer rename into out/ dies on the first try
      mem.addData((12L, "good text"), (13L, "junk noise"))
      failAppendsInto("out")
      val q1 = start()
      val died = try { q1.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q1.stop(); noInjection() }
      assert(died, "injected output rename must kill the first attempt")
      assert(FaultyFs.failedRenames.size() > 0, "the injection must have fired")
      // the committer staged under _temporary: nothing partial is visible
      assert(spark.read.parquet(s"$wd/out").collect().map(_.toString).sorted
        .sameElements(afterB0), "failed append must not leak partial rows")

      // replay from the checkpoint: batch 2's admitted rows land, scored
      // identically to the frozen batch scorer (deterministic replay)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val out = spark.read.parquet(s"$wd/out")
      assert(out.select("doc_id").as[Long].collect().toSet == Set(10L, 12L),
        "curated-like rows admitted exactly once across the crash")

      // the at-least-once tail: drop the last commit marker so a restart
      // REPLAYS batch 2 — byte-identical duplicate rows appear, and
      // compactOutput's keep-any discipline restores one row per doc
      val commits = new java.io.File(s"${wd.stripPrefix("faulty://")}/ckpt/commits")
      val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toInt)
      assert(last.delete())
      val q3 = start()
      try q3.processAllAvailable() finally q3.stop()
      val duped = spark.read.parquet(s"$wd/out")
      assert(duped.count() == 3 &&
        duped.where(col("doc_id") === 12L).count() == 2,
        "the replayed batch must append byte-identical duplicates")
      assert(duped.where(col("doc_id") === 12L)
        .select("log_odds").distinct().count() == 1,
        "replays re-emit the SAME score (deterministic under a frozen model)")
      IndexMaintenance.compactOutput(spark, s"$wd/out")
      val compacted = spark.read.parquet(s"$wd/out")
      assert(compacted.count() == 2 &&
        compacted.select("doc_id").as[Long].collect().toSet == Set(10L, 12L),
        "compactOutput converges the replay to one row per doc")
    } finally noInjection()
  }

  test("knnGateSink crash at the output append: no partial rows, deterministic replay, compactOutput converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val wd = faultyDir("graft_crash_knngate_")
    try {
      def v(base: Seq[Double], i: Long): Seq[Double] =
        base.zipWithIndex.map { case (b, j) =>
          b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
      val seedDf = ((0L until 6L).map(i => (i, v(Seq(1.0, 0.0, 0.0), i), 1)) ++
        (20L until 26L).map(i => (i, v(Seq(0.0, 1.0, 0.0), i), 2)))
        .toDF("vec_id", "embedding", "label")
      graft.ops.Similarity.buildLabelSeed(spark, seedDf,
        "vec_id", "embedding", "label", s"$wd/seed")
      val mem = MemoryStream[(Long, Seq[Double])]
      def start() = graft.streaming.Streams.knnGateSink(spark,
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        s"$wd/seed", s"$wd/out", s"$wd/ckpt",
        k = 4, minVoteFrac = 0.75, admitLabels = Seq(1))
      mem.addData((10L, Seq(0.99, 0.01, 0.0)), (11L, Seq(0.01, 0.99, 0.0)))
      val q0 = start()
      try q0.processAllAvailable() finally q0.stop()
      val afterB0 = spark.read.parquet(s"$wd/out").collect().map(_.toString).sorted

      mem.addData((12L, Seq(0.98, 0.02, 0.0)), (13L, Seq(0.02, 0.98, 0.0)))
      failAppendsInto("out")
      val q1 = start()
      val died = try { q1.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q1.stop(); noInjection() }
      assert(died, "injected output rename must kill the first attempt")
      assert(FaultyFs.failedRenames.size() > 0, "the injection must have fired")
      assert(spark.read.parquet(s"$wd/out").collect().map(_.toString).sorted
        .sameElements(afterB0), "failed append must not leak partial rows")

      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.read.parquet(s"$wd/out")
        .select("vec_id").as[Long].collect().toSet == Set(10L, 12L),
        "allow-listed confident rows admitted exactly once across the crash")

      // drop the last commit marker: the replayed batch re-emits the SAME
      // vote (deterministic under the frozen seed); compactOutput converges
      val commits = new java.io.File(s"${wd.stripPrefix("faulty://")}/ckpt/commits")
      val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toInt)
      assert(last.delete())
      val q3 = start()
      try q3.processAllAvailable() finally q3.stop()
      val duped = spark.read.parquet(s"$wd/out")
      assert(duped.count() == 3 &&
        duped.where(col("vec_id") === 12L).count() == 2,
        "the replayed batch must append byte-identical duplicates")
      assert(duped.where(col("vec_id") === 12L)
        .select("pred_label", "vote_frac").distinct().count() == 1,
        "replays re-emit the SAME vote (deterministic under a frozen seed)")
      IndexMaintenance.compactOutput(spark, s"$wd/out", idCol = "vec_id")
      assert(spark.read.parquet(s"$wd/out")
        .select("vec_id").as[Long].collect().toSet == Set(10L, 12L),
        "compactOutput converges the replay to one row per doc")
    } finally noInjection()
  }

  test("quotaGateSink crash windows: output-append death replays clean; state-delta death re-derives identical admissions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val wd = faultyDir("graft_crash_quota_")
    try {
      graft.ops.Sampling.buildQuotaState(spark, s"$wd/state", n = 2)
      val mem = MemoryStream[(Long, String, String)]
      def start() = graft.streaming.Streams.quotaGateSink(spark,
        mem.toDF().toDF("doc_id", "source", "text"), "doc_id", "source",
        s"$wd/state", s"$wd/out", s"$wd/ckpt")

      // window (a): the OUTPUT append dies — neither output nor state
      // may advance, and the replay admits exactly the md5-coin picks
      mem.addData((1L, "srcA", "a1"), (2L, "srcA", "a2"), (3L, "srcA", "a3"))
      failAppendsInto("out")
      val q0 = start()
      val died0 = try { q0.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q0.stop(); noInjection() }
      assert(died0 && FaultyFs.failedRenames.size() > 0)
      assert(spark.read.parquet(s"$wd/state/admitted").count() == 0,
        "state must not advance past a dead output append")
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val afterB1 = spark.read.parquet(s"$wd/out")
        .select("doc_id").as[Long].collect().toSet
      assert(afterB1.size == 2 && afterB1.subsetOf(Set(1L, 2L, 3L)))
      assert(spark.read.parquet(s"$wd/state/admitted").count() == 2)

      // window (c): output appended, the state DELTA append dies — the
      // replay re-derives the SAME ids against the pre-batch state,
      // re-appends byte-identically, and the delta lands
      mem.addData((10L, "srcB", "b1"), (11L, "srcB", "b2"), (12L, "srcB", "b3"))
      failAppendsInto("admitted")
      val q2 = start()
      val died2 = try { q2.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q2.stop(); noInjection() }
      assert(died2, "injected state-swap failure must kill the batch")
      val outMid = spark.read.parquet(s"$wd/out")
      val srcBMid = outMid.where(col("source") === "srcB")
        .select("doc_id").as[Long].collect().toSet
      assert(srcBMid.size == 2, s"output landed before the dead swap: $srcBMid")
      assert(spark.read.parquet(s"$wd/state/admitted")
        .where(col("key") === "srcB").count() == 0,
        "state swap died: srcB not yet recorded")
      val q3 = start()
      try q3.processAllAvailable() finally q3.stop()
      val outEnd = spark.read.parquet(s"$wd/out")
      assert(outEnd.where(col("source") === "srcB")
        .select("doc_id").as[Long].collect().toSet == srcBMid,
        "the replay must re-derive the SAME admissions")
      assert(outEnd.where(col("source") === "srcB").count() == 4,
        "the replay re-appends byte-identical duplicates")
      assert(spark.read.parquet(s"$wd/state/admitted")
        .where(col("key") === "srcB").count() == 2,
        "the delta lands on replay")
      IndexMaintenance.compactOutput(spark, s"$wd/out")
      val compacted = spark.read.parquet(s"$wd/out")
      assert(compacted.count() == 4 &&
        compacted.where(col("source") === "srcB").count() == 2,
        "compactOutput converges the replay to one row per doc")
    } finally noInjection()
  }

  test("tokenBudgetGateSink crash windows: output death replays clean; committed-delta death re-derives identical spend") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val wd = faultyDir("graft_crash_tbgate_")
    try {
      graft.ops.Sampling.buildTokenBudgetState(spark, s"$wd/state",
        Map("srcA" -> 10L, "srcB" -> 5L))
      val mem = MemoryStream[(Long, String, Long)]
      def start() = graft.streaming.Streams.tokenBudgetGateSink(spark,
        mem.toDF().toDF("doc_id", "source", "n_tok"),
        "doc_id", "source", "n_tok",
        s"$wd/state", s"$wd/out", s"$wd/ckpt")

      // window (a): the OUTPUT append dies — neither output nor spend
      // may advance; the replay admits the identical md5 prefix
      mem.addData((1L, "srcA", 4L), (2L, "srcA", 4L), (3L, "srcA", 4L))
      failAppendsInto("out")
      val q0 = start()
      val died0 = try { q0.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q0.stop(); noInjection() }
      assert(died0 && FaultyFs.failedRenames.size() > 0)
      assert(spark.read.parquet(s"$wd/state/committed").count() == 0,
        "spend must not advance past a dead output append")
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val afterB1 = spark.read.parquet(s"$wd/out")
        .select("doc_id").as[Long].collect().toSet
      assert(afterB1.size == 2 && afterB1.subsetOf(Set(1L, 2L, 3L)),
        s"2x4 of 10 tokens admit: $afterB1")

      // window (c): output appended, the COMMITTED delta dies — the
      // replay reads spend from batches strictly before its own id, so
      // it re-derives the SAME admissions and re-appends
      // byte-identically; the delta lands on replay
      mem.addData((10L, "srcB", 3L), (11L, "srcB", 3L))
      failAppendsInto("committed")
      val q2 = start()
      val died2 = try { q2.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q2.stop(); noInjection() }
      assert(died2, "injected committed-delta failure must kill the batch")
      val srcBMid = spark.read.parquet(s"$wd/out")
        .where(col("source") === "srcB")
        .select("doc_id").as[Long].collect().toSet
      assert(srcBMid.size == 1, s"one 3-token row fits 5: $srcBMid")
      assert(spark.read.parquet(s"$wd/state/committed")
        .where(col("key") === "srcB").count() == 0,
        "delta died: srcB spend not yet recorded")
      val q3 = start()
      try q3.processAllAvailable() finally q3.stop()
      val outEnd = spark.read.parquet(s"$wd/out")
      assert(outEnd.where(col("source") === "srcB")
        .select("doc_id").as[Long].collect().toSet == srcBMid,
        "the replay must re-derive the SAME admission")
      assert(outEnd.where(col("source") === "srcB").count() == 2,
        "the replay re-appends byte-identically")
      assert(spark.read.parquet(s"$wd/state/committed")
        .where(col("key") === "srcB").as[(String, Long, Long)]
        .collect().toSet.map((t: (String, Long, Long)) => (t._1, t._3))
        == Set(("srcB", 3L)),
        "the delta lands on replay with the identical spend")
      IndexMaintenance.compactOutput(spark, s"$wd/out")
      assert(spark.read.parquet(s"$wd/out")
        .where(col("source") === "srcB").count() == 1,
        "compactOutput converges the replay to one row per doc")
    } finally noInjection()
  }

  test("rebandTextIndex crash mid-reband: tombstone fails sink starts closed, re-run recovers") {
    val dir = faultyDir("graft_crash_reband_")
    try {
      val docs = Seq(
        (1L, "one two three four five six seven eight"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      Dedup.buildTextIndex(docs, "doc_id", "text", dir) // w=3, k=8, bands=4

      // crash the bands swap at its FIRST rename: the tombstone is
      // already down, bands/ still carries the old geometry
      FaultyFs.failWhen = Some(_.endsWith("_compact_old"))
      val e = intercept[IllegalArgumentException](
        Dedup.rebandTextIndex(spark, dir, k = 16, bands = 8))
      assert(e.getMessage.contains("layout untouched"))
      noInjection()

      val meta = Similarity.readIndexMeta(spark, dir)
      assert(meta.get("rebanding").contains("16/8"),
        s"the tombstone must precede the swap, got $meta")
      // the pre-reband geometry is still recorded for probes...
      assert(meta("k") == "8" && meta("bands") == "4")
      // ...but a sink start at EITHER geometry fails CLOSED — this is
      // the window where trusting meta would append mismatched keys
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      for ((k, b) <- Seq((8, 4), (16, 8))) {
        val refuse = intercept[IllegalArgumentException](
          graft.streaming.Streams.textIndexSink(
            mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
            s"$dir/ckpt", k = k, bands = b))
        assert(refuse.getMessage.contains("interrupted reband"),
          s"geometry ($k,$b) must be refused while tombstoned")
      }
      // documented recovery: re-run the reband to completion (bands
      // re-derive from the unchanged sets — idempotent)
      Dedup.rebandTextIndex(spark, dir, k = 16, bands = 8)
      val after = Similarity.readIndexMeta(spark, dir)
      assert(!after.contains("rebanding"), "tombstone must clear on success")
      assert(after("k") == "16" && after("bands") == "8" && after("w") == "3")
      // and the sink starts again at the rebanded geometry only
      val q = graft.streaming.Streams.textIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
        tmpDir("graft_reband_ckpt_"), k = 16, bands = 8)
      q.stop()
    } finally noInjection()
  }

  test("rebandTextIndex crash at the bands swap's SECOND rename: sink closed, re-run resumes the swap") {
    val dir = faultyDir("graft_crash_reband2_")
    try {
      val docs = Seq(
        (1L, "one two three four five six seven eight"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      Dedup.buildTextIndex(docs, "doc_id", "text", dir) // w=3, k=8, bands=4

      // crash the bands swap at its SECOND rename (dst = the live bands
      // path): bands/ is aside, the staged copy is complete, tombstone down
      val livePath = new java.net.URI(s"$dir/bands").getPath
      FaultyFs.failWhen = Some(_ == livePath)
      val e = intercept[IllegalArgumentException](
        Dedup.rebandTextIndex(spark, dir, k = 16, bands = 8))
      assert(e.getMessage.contains("interrupted between renames"))
      noInjection()

      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new Path(s"$dir/bands")), "live bands moved aside")
      assert(fs.exists(new Path(s"$dir/bands_compact_tmp")), "staged copy complete")
      assert(Similarity.readIndexMeta(spark, dir)
        .get("rebanding").contains("16/8"), "tombstone down")
      // sink start fails CLOSED while tombstoned, even at the new geometry
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val refuse = intercept[IllegalArgumentException](
        graft.streaming.Streams.textIndexSink(
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
          s"$dir/ckpt", k = 16, bands = 8))
      assert(refuse.getMessage.contains("interrupted reband"))

      // documented recovery: RE-RUN — stageAndSwap detects the mid-swap
      // state (live dir absent, staged copy present, same geometry) and
      // completes the single remaining rename
      Dedup.rebandTextIndex(spark, dir, k = 16, bands = 8)
      val after = Similarity.readIndexMeta(spark, dir)
      assert(!after.contains("rebanding"), "tombstone must clear on success")
      assert(after("k") == "16" && after("bands") == "8")
      assert(spark.read.parquet(s"$dir/bands")
        .select("band").distinct().count() == 8, "new geometry live")
      assert(!fs.exists(new Path(s"$dir/bands_compact_tmp")), "staged copy promoted")
      assert(!fs.exists(new Path(s"$dir/bands_compact_old")), "rollback copy cleaned")
      // and the sink starts again at the rebanded geometry
      val q = graft.streaming.Streams.textIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
        tmpDir("graft_reband2_ckpt_"), k = 16, bands = 8)
      q.stop()
    } finally noInjection()
  }

  test("rebandTextIndex mid-swap crash, re-run at a DIFFERENT geometry: stale staged copy dropped, restaged") {
    val dir = faultyDir("graft_crash_reband3_")
    try {
      val docs = Seq(
        (1L, "one two three four five six seven eight"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      Dedup.buildTextIndex(docs, "doc_id", "text", dir) // w=3, k=8, bands=4

      val livePath = new java.net.URI(s"$dir/bands").getPath
      FaultyFs.failWhen = Some(_ == livePath) // SECOND rename again
      intercept[IllegalArgumentException](
        Dedup.rebandTextIndex(spark, dir, k = 16, bands = 8))
      noInjection()

      // the operator changes its mind: re-run at 8/2, not the crashed 16/8.
      // Promoting the stale 16/8 staged copy here would stamp meta with a
      // geometry the bands don't carry — the guard drops it and restages.
      Dedup.rebandTextIndex(spark, dir, k = 8, bands = 2)
      val after = Similarity.readIndexMeta(spark, dir)
      assert(!after.contains("rebanding"))
      assert(after("k") == "8" && after("bands") == "2")
      assert(spark.read.parquet(s"$dir/bands")
        .select("band").distinct().count() == 2,
        "bands must carry the RE-RUN's geometry, not the crashed run's")
    } finally noInjection()
  }

  test("writeIndexMeta crash between delete and rename: sink fails closed; next read finishes the swap") {
    val dir = faultyDir("graft_crash_meta_")
    try {
      val docs = Seq(
        (1L, "one two three four five six seven eight"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      Dedup.buildTextIndex(docs, "doc_id", "text", dir) // stamps meta

      // crash the meta swap at its rename (dst = the live meta path):
      // meta/ is gone, the complete new table is stranded at meta_tmp
      val metaPath = new java.net.URI(s"$dir/meta").getPath
      FaultyFs.failWhen = Some(_ == metaPath)
      val e = intercept[IllegalArgumentException](
        Similarity.writeIndexMeta(spark, dir, Seq(
          "layout" -> "text_dedup", "w" -> "3", "k" -> "8", "bands" -> "4",
          "note" -> "rewritten")))
      assert(e.getMessage.contains("meta write interrupted"))

      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new Path(s"$dir/meta")), "old meta deleted")
      assert(fs.exists(new Path(s"$dir/meta_tmp/_SUCCESS")),
        "staged meta is complete")

      // while meta is unrecoverable (injection still blocks the healing
      // rename), a populated layout reads meta-less — the sink must
      // fail CLOSED rather than trust the caller's geometry
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val refuse = intercept[IllegalArgumentException](
        graft.streaming.Streams.textIndexSink(
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
          s"$dir/ckpt", k = 8, bands = 4))
      assert(refuse.getMessage.contains("no meta"))

      // once renames work again, the next read self-heals: it finishes
      // the interrupted swap and serves the NEW meta
      noInjection()
      val healed = Similarity.readIndexMeta(spark, dir)
      assert(healed.get("note").contains("rewritten"), s"healed read: $healed")
      assert(fs.exists(new Path(s"$dir/meta")) &&
        !fs.exists(new Path(s"$dir/meta_tmp")), "swap finished on read")
      // and the sink starts normally against the healed meta
      val q = graft.streaming.Streams.textIndexSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
        tmpDir("graft_meta_ckpt_"), k = 8, bands = 4)
      q.stop()
    } finally noInjection()
  }

  test("admitting sinks, output append dies: index unchanged, replays converge to the crash-free output") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.streaming.Streams
    implicit val sqlCtx = spark.sqlContext
    case class SinkCase(name: String, build: String => Unit,
                        start: (DataFrame, String) => StreamingQuery,
                        b0: Seq[(Long, String)], b1: Seq[(Long, String)])
    val none = null.asInstanceOf[String]
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // w=8
    val novel = "first batch novel content nine ten eleven twelve now here"
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // every sink writes its index under <wd>/idx and its output to <wd>/out;
    // batch 1 repeats what batch 0 admitted, adds fresh text and a null row
    val cases = Seq(
      SinkCase("ingestGate",
        idx => Dedup.buildExactKeyIndex(docs((1L, "standing doc")), "text", idx),
        (s, wd) => Streams.ingestGate(spark, s, "doc_id", "text",
          s"$wd/idx", s"$wd/out", s"$wd/ckpt"),
        Seq((10L, "fresh ten"), (11L, "standing doc")),
        Seq((20L, "fresh ten"), (21L, "fresh twenty one"), (22L, none))),
      SinkCase("gramExciseSink",
        idx => Dedup.buildGramIndex(
          docs((1L, s"standing corpus with $passage in the middle zone")),
          "text", idx, w = 8),
        (s, wd) => Streams.gramExciseSink(spark, s, "doc_id", "text",
          s"$wd/idx", s"$wd/out", s"$wd/ckpt"),
        Seq((10L, s"$passage novel continuation one two three four five six"),
          (11L, novel)),
        Seq((20L, novel), (22L, none),
          (21L, "second batch fresh material thirteen fourteen fifteen sixteen"))),
      SinkCase("lineRemovalSink",
        idx => Dedup.buildLineIndex(docs((1L, "cookie banner\nstanding one"),
          (2L, "cookie banner\nstanding two")), "doc_id", "text", idx,
          minDocFreq = 3),
        (s, wd) => Streams.lineRemovalSink(spark, s, "doc_id", "text",
          s"$wd/idx", s"$wd/out", s"$wd/ckpt"),
        Seq((10L, "cookie banner\nalpha uno"), (11L, "promo\nbeta dos")),
        Seq((20L, "cookie banner\ndelta quat"), (21L, "plain\ngamma tres"),
          (22L, none))),
      SinkCase("paragraphRemovalSink",
        idx => Dedup.buildParagraphIndex(
          docs((1L, "cookie banner para\n\nstanding one"),
            (2L, "cookie banner para\n\nstanding two")),
          "doc_id", "text", idx, minDocFreq = 3),
        (s, wd) => Streams.paragraphRemovalSink(spark, s, "doc_id", "text",
          s"$wd/idx", s"$wd/out", s"$wd/ckpt"),
        Seq((10L, "cookie banner para\n\nalpha uno"), (11L, "promo\n\nbeta dos")),
        Seq((20L, "cookie banner para\n\ndelta quat"),
          (21L, "plain para\n\ngamma tres"), (22L, none))))

    // true when the query died on its batch
    def drain(q: StreamingQuery): Boolean =
      try { q.processAllAvailable(); false }
      catch { case _: Exception => true }
      finally q.stop()
    def output(wd: String): Seq[String] =
      spark.read.parquet(s"$wd/out").collect().map(_.toString).sorted.toSeq
    def indexFiles(wd: String): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath -> f.length())
      walk(new java.io.File(s"${wd.stripPrefix("faulty://")}/idx")).toSet
    }

    cases.foreach { c =>
      val ref = tmpDir("graft_crash_admit_ref_")
      c.build(s"$ref/idx")
      val refMem = MemoryStream[(Long, String)]
      val qr = c.start(refMem.toDF().toDF("doc_id", "text"), ref)
      try {
        refMem.addData(c.b0: _*); qr.processAllAvailable()
        refMem.addData(c.b1: _*); qr.processAllAvailable()
      } finally qr.stop()
      val expected = output(ref)

      val wd = faultyDir("graft_crash_admit_")
      try {
        c.build(s"$wd/idx")
        val mem = MemoryStream[(Long, String)]
        def start() = c.start(mem.toDF().toDF("doc_id", "text"), wd)
        mem.addData(c.b0: _*)
        assert(!drain(start()), s"${c.name}: batch 0 must commit")
        val outB0 = output(wd)
        val indexB0 = indexFiles(wd)

        mem.addData(c.b1: _*)
        FaultyFs.failedRenames.clear()
        failAppendsInto("out")
        val died = try drain(start()) finally noInjection()
        assert(died && !FaultyFs.failedRenames.isEmpty,
          s"${c.name}: the output append must die")
        assert(output(wd) == outB0, s"${c.name}: no partial output rows")
        assert(indexFiles(wd) == indexB0,
          s"${c.name}: the index must not advance past a dead output append")

        assert(!drain(start()), s"${c.name}: the replay must commit")
        assert(output(wd) == expected,
          s"${c.name}: the replay must land the crash-free output")

        // drop batch 1's commit marker: a replay after the index advanced
        // may re-emit rows, and compactOutput converges them
        val commits = new java.io.File(s"${wd.stripPrefix("faulty://")}/ckpt/commits")
        assert(commits.listFiles().filter(_.getName.forall(_.isDigit))
          .maxBy(_.getName.toInt).delete())
        assert(!drain(start()), s"${c.name}: the second replay must commit")
        IndexMaintenance.compactOutput(spark, s"$wd/out")
        assert(output(wd) == expected,
          s"${c.name}: compactOutput must converge the replays")
      } finally noInjection()
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
