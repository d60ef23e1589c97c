package graft.tasks

import graft.SparkSpec
import graft.ops.{Analytics, Curation, Dedup, Packing, Sampling}
import graft.runner.{TaskLog, TaskRunner}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation-family task types drive the SAME ops the qNN queries
  * pin — each fixture must be byte-identical to calling the op
  * directly (the q88/q92/... parity contract from the task surface).
  */
class PipelineTaskSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def runTask(wd: String, json: String): Unit = {
    val f = s"$wd/task.json"
    Files.writeString(Paths.get(f), json)
    TaskRunner.runFile(f, spark, wd, TaskLog.Silent)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def outParquet(wd: String, name: String): DataFrame =
    spark.read.parquet(s"$wd/output/$name")

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("block task == Web.filterBlockedDomains; psl file drives the registered-domain cut") {
    import spark.implicits._
    val wd = tmpDir("graft_pipetask_")
    Files.createDirectories(Paths.get(s"$wd/input"))
    val pages = Seq(
      (1L, "https://a.evil.example/x"),   // cuts to evil.example (PSL)
      (2L, "https://good.example/y"),     // 'example' is a PSL suffix here
      (3L, "https://x.sub.host.ck/z"),    // *.ck: host.ck is the suffix,
                                          // so the cut is sub.host.ck
      (4L, "https://www.ck/keep"),        // !www.ck exception
      (5L, "https://other.com/keep"))
      .toDF("doc_id", "url")
    pages.write.parquet(s"$wd/input/pages")
    val blockedDomains = Seq("evil.example", "sub.host.ck")
    blockedDomains.toDF("domain").write.parquet(s"$wd/input/blocked")
    // PSL: 'example' exact, *.ck wildcard, !www.ck exception — none of
    // which the bundled subset carries
    Files.writeString(Paths.get(s"$wd/input/rules.dat"),
      "// test rules\nexample\ncom\n*.ck\n!www.ck\n")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "block", "name": "b",
         |   "source": {"folder": "input", "file": "pages"},
         |   "block": {"blocklist": "blocked", "psl": "input/rules.dat"},
         |   "target": {"file": "kept", "truncate": true}},
         |  {"type": "block", "name": "b0",
         |   "source": {"folder": "input", "file": "pages"},
         |   "block": {"blocklist": "blocked"},
         |   "target": {"file": "kept_default", "truncate": true}}
         |]}""".stripMargin)
    // PSL run: evil.example blocks doc 1 ('a' label under suffix
    // 'example'); sub.host.ck blocks doc 3 (the *.ck wildcard makes
    // host.ck the suffix); www.ck survives (the exception keeps its
    // cut at www.ck, not in the list)
    assert(outParquet(wd, "kept").select("doc_id")
      .as[Long].collect().toSet == Set(2L, 4L, 5L))
    // parity with the op under the same rules
    val rules = graft.ops.Web.loadPublicSuffixes(s"$wd/input/rules.dat")
    assert(rows(outParquet(wd, "kept")) ==
      rows(graft.ops.Web.filterBlockedDomains(pages, "url",
        blockedDomains.toDF("domain"), "domain", rules)))
    // bundled default diverges on doc 3: 'ck' is not a bundled suffix,
    // so the fallback cut is the last two labels (host.ck), which the
    // blocklist's sub.host.ck entry does NOT match — the knob is what
    // makes multi-label ccTLD blocklists enforceable
    assert(outParquet(wd, "kept_default").select("doc_id")
      .as[Long].collect().toSet == Set(2L, 3L, 4L, 5L))
  }

  test("excise task == Dedup.exciseDupSpans, byte for byte") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "e",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "excise": {"w": 8},
         |  "target": {"file": "exc", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "exc")) ==
      rows(Dedup.exciseDupSpans(docs, "doc_id", "text", w = 8)))
  }

  test("excise task within-doc mode == Dedup.collapseRepeats") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "c",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "excise": {"mode": "within-doc", "w": 3},
         |  "target": {"file": "col", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "col")) ==
      rows(Dedup.collapseRepeats(docs, "doc_id", "text", w = 3)))
  }

  test("excise task lines mode == Dedup.removeFrequentLines") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "l",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "excise": {"mode": "lines", "min_doc_freq": 3},
         |  "target": {"file": "lin", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "lin")) ==
      rows(Dedup.removeFrequentLines(docs, "doc_id", "text", minDocFreq = 3)))
  }

  test("excise task lines mode with index == Dedup.removeLinesAgainstIndex") {
    val wd = tmpDir("graft_pipetask_")
    Dedup.buildLineIndex(docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
      s"$wd/lineidx", minDocFreq = 2)
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "li",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "excise": {"mode": "lines", "index": "lineidx"},
         |  "target": {"file": "lix", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "lix")) ==
      rows(Dedup.removeLinesAgainstIndex(spark, docs, "doc_id", "text",
        s"$wd/lineidx")))
  }

  test("excise task paragraphs mode == Dedup.removeFrequentParagraphs") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "p",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "excise": {"mode": "paragraphs", "min_doc_freq": 2},
         |  "target": {"file": "paras", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "paras")) ==
      rows(Dedup.removeFrequentParagraphs(docs, "doc_id", "text",
        minDocFreq = 2)))
  }

  test("excise task paragraphs mode with index == Dedup.removeParagraphsAgainstIndex") {
    val wd = tmpDir("graft_pipetask_")
    Dedup.buildParagraphIndex(docs.where(col("doc_id") % 2 === 0), "doc_id",
      "text", s"$wd/paraidx", minDocFreq = 2)
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "pi",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "excise": {"mode": "paragraphs", "index": "paraidx"},
         |  "target": {"file": "pix", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "pix")) ==
      rows(Dedup.removeParagraphsAgainstIndex(spark, docs, "doc_id", "text",
        s"$wd/paraidx")))
  }

  test("excise task rejects within-doc and unknown modes with an index") {
    val wd = tmpDir("graft_pipetask_")
    Dedup.buildGramIndex(docs, "text", s"$wd/gramidx", w = 3)
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    // neither may fall through to gram excision against the index
    for (mode <- Seq("within-doc", "line")) {
      val e = intercept[Exception](runTask(wd,
        s"""{"tasks": [{"type": "excise", "name": "wi",
           |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
           |  "excise": {"mode": "$mode", "index": "gramidx"},
           |  "target": {"file": "wix", "truncate": true}}]}""".stripMargin))
      assert(chain(e).exists(x => x.isInstanceOf[IllegalArgumentException] &&
        x.getMessage.contains(mode)))
    }
  }

  test("chunk task == Packing.chunkDocs (q98 parity)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "chunk", "name": "ch",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "chunk": {"max_words": 8, "overlap": 2},
         |  "target": {"file": "chk", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "chk")) ==
      rows(Packing.chunkDocs(docs, "doc_id", "text", maxWords = 8, overlap = 2)))
  }

  test("a single-file parquet source starts no schema job") {
    val wd = tmpDir("graft_pipetask_")
    // the same file, once bare and once as a one-file directory: only
    // the directory needs Spark's schema inference job
    Files.createDirectories(Paths.get(s"$wd/input/docs_dir"))
    Files.copy(Paths.get(s"$sfDir/documents.parquet"), Paths.get(s"$wd/input/docs.parquet"))
    Files.copy(Paths.get(s"$sfDir/documents.parquet"), Paths.get(s"$wd/input/docs_dir/part-0.parquet"))
    def chunkJobs(file: String): Int = jobsOf(runTask(wd,
      s"""{"tasks": [{"type": "chunk", "name": "ch",
         |  "source": {"folder": "input", "file": "$file"},
         |  "chunk": {"max_words": 8, "overlap": 2},
         |  "target": {"file": "chk_$file", "truncate": true}}]}""".stripMargin))
    val fromDir = chunkJobs("docs_dir")
    assert(chunkJobs("docs.parquet") == fromDir - 1)
    assert(rows(outParquet(wd, "chk_docs.parquet")) == rows(outParquet(wd, "chk_docs_dir")))
  }

  test("pack_ids task == Packing.packTokens (token-id materialization parity)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "pack_ids", "name": "pi",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "pack_ids": {"tokenizer": "bpe", "seq_len": 64},
         |  "target": {"file": "pid", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "pid")) ==
      rows(Packing.packTokens(docs, "doc_id", "text", "source", 64,
        graft.functions.TokenCounters.tinyBpe)))
    // a count-only tokenizer is refused with the reason
    val e = intercept[Exception](runTask(wd,
      s"""{"tasks": [{"type": "pack_ids", "name": "pw",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "pack_ids": {"tokenizer": "whitespace"},
         |  "target": {"file": "pw", "truncate": true}}]}""".stripMargin))
    assert(e.getMessage.contains("cannot emit ids") ||
      Option(e.getCause).exists(_.getMessage.contains("cannot emit ids")))
  }

  test("shuffle task == Sampling.trainingOrder (q92 parity)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "shuffle", "name": "s",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "shuffle": {"shards": 8},
         |  "target": {"file": "ord", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "ord")) ==
      rows(Sampling.trainingOrder(docs, "doc_id", nShards = 8)))
  }

  test("dedup task == exact representatives; sample task == stratified rates") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "dedup", "name": "d",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "dedup": {"text": "text"},
         |   "target": {"file": "ded", "truncate": true}},
         |  {"type": "sample", "name": "m",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "sample": {"fracs": {"src1": 1.0, "src2": 0.25}},
         |   "target": {"file": "smp", "truncate": true}}
         |]}""".stripMargin)
    val reps = Dedup.exact(docs, "doc_id", "text").select(col("doc_id"))
    assert(rows(outParquet(wd, "ded")) ==
      rows(docs.join(reps, Seq("doc_id"), "left_semi")))
    assert(rows(outParquet(wd, "smp")) ==
      rows(Sampling.stratifiedSample(docs, "doc_id", "source",
        Map("src1" -> 1.0, "src2" -> 0.25))))
  }

  test("drift task == Analytics.distributionDrift against the referenced parquet (q135 parity)") {
    val wd = tmpDir("graft_pipetask_")
    // reference == source: identity drift, the cleanest parity fixture
    // (every psi term must be exactly zero)
    docs.write.parquet(s"$wd/refsnap")
    runTask(wd,
      s"""{"tasks": [{"type": "drift", "name": "dd",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "drift": {"reference": "refsnap", "bucket": "lang"},
         |  "target": {"file": "card", "truncate": true}}]}""".stripMargin)
    val card = outParquet(wd, "card")
    assert(rows(card) ==
      rows(Analytics.distributionDrift(docs, docs, "lang")))
    assert(card.where(col("psi") =!= 0.0).count() == 0,
      "a snapshot drifted against itself is exactly zero everywhere")
    // mode: diff — the extensional view (q136) from the same task type
    runTask(wd,
      s"""{"tasks": [{"type": "drift", "name": "dx",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "drift": {"reference": "refsnap", "mode": "diff"},
         |  "target": {"file": "diff", "truncate": true}}]}""".stripMargin)
    val diff = outParquet(wd, "diff")
    assert(rows(diff) == rows(Analytics.corpusDiff(docs, docs, "doc_id", "text")))
    assert(diff.where(col("status") =!= "unchanged").count() == 0,
      "a snapshot diffed against itself is all-unchanged")
  }

  test("sample task mixture mode == mixtureFracs + stratifiedSample/upsample (q133/q134 parity)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "sample", "name": "mc",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "sample": {"weights": {"src0": 0.5, "src1": 0.3, "src2": 0.2},
         |              "total_tokens": 30000, "tokens": "n_chars"},
         |   "target": {"file": "mixcap", "truncate": true}},
         |  {"type": "sample", "name": "mr",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "sample": {"weights": {"src0": 0.5, "src1": 0.3, "src2": 0.2},
         |              "total_tokens": 30000, "tokens": "n_chars",
         |              "replacement": "true"},
         |   "target": {"file": "mixrep", "truncate": true}}
         |]}""".stripMargin)
    val w = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val tok = docs.withColumn("n_tokens", col("n_chars").cast("long"))
    val capped = Sampling.mixtureFracs(tok, "source", "n_tokens", w, 30000L)
    assert(rows(outParquet(wd, "mixcap")) ==
      rows(Sampling.stratifiedSample(docs, "doc_id", "source", capped)))
    val rep = Sampling.mixtureFracs(tok, "source", "n_tokens", w, 30000L,
      allowReplacement = true)
    assert(rep.exists(_._2 > 1.0), "the recipe must force an epochs>1 stratum")
    assert(rows(outParquet(wd, "mixrep")) ==
      rows(Sampling.upsample(docs, "doc_id", "source", rep)))
    // the four sampler forms are mutually exclusive — a config carrying
    // two must refuse, not silently pick the weights arm
    val e = intercept[Exception](runTask(wd,
      s"""{"tasks": [{"type": "sample", "name": "amb",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "sample": {"weights": {"src0": 1.0}, "total_tokens": 1000,
         |             "tokens": "n_chars", "fracs": {"src0": 0.5}},
         |  "target": {"file": "amb", "truncate": true}}]}""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("exactly one of weights/budgets/fracs/frac")))
  }

  test("sample task budgets with exact:true == tokenBudgetPrefix (q141 parity), schema unchanged") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "sample", "name": "ex",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "sample": {"budgets": {"src0": 500, "src1": 800},
         |             "tokens": "n_chars", "exact": "true"},
         |  "target": {"file": "exact", "truncate": true}}]}""".stripMargin)
    val out = outParquet(wd, "exact")
    assert(out.columns.toSeq == docs.columns.toSeq,
      "exact budgets must pass the schema through unchanged")
    val expect = docs
      .join(Sampling.tokenBudgetPrefix(
          docs.withColumn("n_tokens", col("n_chars").cast("long")),
          "doc_id", "source", "n_tokens",
          Map("src0" -> 500L, "src1" -> 800L)).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    assert(rows(out) == rows(expect))
  }

  test("split task == splitLabel / splitByGroup; keep filters one side; cap task == capPerKey (q47/q126/q127 parity)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "split", "name": "s1",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "split": {},
         |   "target": {"file": "byid", "truncate": true}},
         |  {"type": "split", "name": "s2",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "split": {"group": "source", "keep": "train"},
         |   "target": {"file": "bygrp", "truncate": true}},
         |  {"type": "cap", "name": "c",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "cap": {"key": "source", "score": "n_chars", "n": 3},
         |   "target": {"file": "capped", "truncate": true}}
         |]}""".stripMargin)
    assert(rows(outParquet(wd, "byid")) ==
      rows(Sampling.splitLabel(docs, "doc_id")))
    assert(rows(outParquet(wd, "bygrp")) ==
      rows(Sampling.splitByGroup(docs, "source").where(col("split") === "train")))
    assert(rows(outParquet(wd, "capped")) ==
      rows(Sampling.capPerKey(docs, "doc_id", "source", "n_chars", n = 3)))
  }

  test("gopher/intake/leak-screen tasks == the ops (q146/q147/q148 parity)") {
    import graft.ops.{TextAnalysis, Web}
    val wd = tmpDir("graft_pipetask_")
    // an html-column fixture for the intake task
    docs.select(col("doc_id"),
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>"))
          .as("html"))
      .write.parquet(s"$wd/pages")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "gopher", "name": "g1",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "gopher": {"min_words": 10, "min_stop_hits": 0},
         |   "target": {"file": "audit", "truncate": true}},
         |  {"type": "gopher", "name": "g2",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "gopher": {"min_words": 10, "min_stop_hits": 0, "keep_only": true},
         |   "target": {"file": "kept", "truncate": true}},
         |  {"type": "intake", "name": "i",
         |   "source": {"folder": "$wd", "file": "pages"},
         |   "intake": {"min_words": 10, "min_stop_hits": 0},
         |   "target": {"file": "intake", "truncate": true}},
         |  {"type": "split", "name": "s",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "split": {"group": "source", "leak_screen": true, "w": 4,
         |             "min_hits": 2},
         |   "target": {"file": "leaksplit", "truncate": true}}
         |]}""".stripMargin)
    val th = TextAnalysis.GopherThresholds(minWords = 10, minStopHits = 0)
    assert(rows(outParquet(wd, "audit")) ==
      rows(TextAnalysis.gopherFilter(docs, "doc_id", "text", th)))
    assert(rows(outParquet(wd, "kept")) ==
      rows(docs.where(TextAnalysis.gopherKeep(col("text"), th))))
    assert(rows(outParquet(wd, "intake")) ==
      rows(Web.intake(spark.read.parquet(s"$wd/pages"), "doc_id", "html", th)))
    assert(rows(outParquet(wd, "leaksplit")) ==
      rows(Sampling.leakFreeSplit(docs, "doc_id", "text", "source",
        w = 4, minHits = 2)))
    // leak_screen without a group is a config error — both the string
    // spelling and the JSON-boolean spelling must fire the guard
    for (form <- Seq("\"true\"", "true")) {
      intercept[Exception] {
        runTask(wd,
          s"""{"tasks": [{"type": "split", "name": "bad",
             |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
             |  "split": {"leak_screen": $form},
             |  "target": {"file": "nope", "truncate": true}}]}""".stripMargin)
      }
    }
  }

  test("pack task counts ws tokens from text == Packing.pack (q52 parity)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "pack", "name": "p",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "pack": {"text": "text", "shard": "source", "seq_len": 512},
         |  "target": {"file": "pk", "truncate": true}}]}""".stripMargin)
    val withTok = docs.withColumn("n_tokens",
      graft.functions.VectorFunctions.tokenCountsStruct(col("text"))
        .getField("ws_tokens"))
    assert(rows(outParquet(wd, "pk")) ==
      rows(Packing.pack(withTok, "doc_id", "n_tokens", "source", 512)))
  }

  test("pack task with a file-backed bpe:<merges.txt> tokenizer (user vocabulary surface)") {
    val wd = tmpDir("graft_pipetask_bpe_")
    val merges = s"$wd/merges.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(merges),
      ("#version: 0.2\n" + graft.functions.TokenCounters.tinyMerges
        .map { case (l, r) => s"$l $r" }.mkString("\n") + "\n").getBytes("UTF-8"))
    runTask(wd,
      s"""{"tasks": [{"type": "pack", "name": "p",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "pack": {"text": "text", "shard": "source", "seq_len": 512,
         |           "tokenizer": "bpe:$merges"},
         |  "target": {"file": "pk", "truncate": true}}]}""".stripMargin)
    // file-backed table == the pinned table, so the task must reproduce
    // the q52b packing exactly
    val withTok = docs.withColumn("n_tokens",
      graft.functions.TokenCounters.count(
        graft.functions.TokenCounters.tinyBpe, col("text")))
    assert(rows(outParquet(wd, "pk")) ==
      rows(Packing.pack(withTok, "doc_id", "n_tokens", "source", 512)))
  }

  test("curate task == Curation.curate (q93's op from a task file)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "curate", "name": "q",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "curate": {"budgets": {"src1": 2000, "src2": 1000}},
         |  "target": {"file": "cur", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "cur")) ==
      rows(Curation.curate(spark, docs, "doc_id", "text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = Map("src1" -> 2000L, "src2" -> 1000L)))))
  }

  test("redact_pii knob: curate and intake tasks == the ops with the rung on") {
    import graft.ops.Web
    val wd = tmpDir("graft_pipetask_pii_")
    // PII-planted corpus (the q45 construction) for the curate rung
    val withPii = docs.select(col("doc_id"), col("source"),
      concat(col("text"), lit(" mail user"), col("doc_id"),
        lit("@example.com from 10.0.0."), col("doc_id") % 256).as("text"))
    withPii.write.parquet(s"$wd/pii_docs")
    withPii.select(col("doc_id"),
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>"))
          .as("html"))
      .write.parquet(s"$wd/pii_pages")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "curate", "name": "c",
         |   "source": {"folder": "$wd", "file": "pii_docs"},
         |   "curate": {"budgets": {"src1": 2000, "src2": 1000},
         |              "redact_pii": true},
         |   "target": {"file": "cur_red", "truncate": true}},
         |  {"type": "intake", "name": "i",
         |   "source": {"folder": "$wd", "file": "pii_pages"},
         |   "intake": {"min_words": 10, "min_stop_hits": 0,
         |              "redact_pii": true},
         |   "target": {"file": "intake_red", "truncate": true}}
         |]}""".stripMargin)
    assert(rows(outParquet(wd, "cur_red")) ==
      rows(Curation.curate(spark, withPii, "doc_id", "text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(
          budgets = Map("src1" -> 2000L, "src2" -> 1000L),
          redactPii = true))))
    val th = graft.ops.TextAnalysis.GopherThresholds(
      minWords = 10, minStopHits = 0)
    val viaOp = Web.intake(
      withPii.select(col("doc_id"),
        concat(lit("<html><body><p>"), col("text"),
          lit("</p></body></html>")).as("html")),
      "doc_id", "html", th, redactPii = true)
    assert(rows(outParquet(wd, "intake_red")) == rows(viaOp))
    // the rung fired: placeholders in the intake output, raw PII gone
    val sample = outParquet(wd, "intake_red")
      .where(col("norm_text").contains("<EMAIL>"))
    assert(sample.count() > 0, "placeholders must appear")
    assert(outParquet(wd, "intake_red")
      .where(col("norm_text").contains("@example.com")).count() == 0)
  }

  test("by_language knob: curate task routes the mixture on the q33 language decision") {
    val wd = tmpDir("graft_pipetask_lang_")
    runTask(wd,
      s"""{"tasks": [{"type": "curate", "name": "cl",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "curate": {"budgets": {"en": 3000, "und": 1500},
         |             "by_language": true},
         |  "target": {"file": "cur_lang", "truncate": true}}]}""".stripMargin)
    val viaOp = Curation.curateByLanguage(spark, docs, "doc_id", "text",
      keyIndexPath = None, benchmark = None,
      cfg = Curation.Config(budgets = Map("en" -> 3000L, "und" -> 1500L)))
    assert(rows(outParquet(wd, "cur_lang")) == rows(viaOp))
    // the stratum really is the language decision, not provenance
    val strata = outParquet(wd, "cur_lang").select("source")
      .distinct().collect().map(_.getString(0)).toSet
    assert(strata.nonEmpty && strata.subsetOf(Set("de", "en", "es", "fr", "und")),
      s"strata must be language codes: $strata")
  }

  test("curate task accepts a mixture recipe: weights+total_tokens == the mixtureTargets budgets") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "curate", "name": "qw",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "curate": {"weights": {"src1": 3.0, "src2": 1.0},
         |             "total_tokens": 4000},
         |  "target": {"file": "curw", "truncate": true}}]}""".stripMargin)
    // 3:1 normalizes to exact binary fractions (0.75/0.25), so the
    // derived budgets are crisp: {src1: 3000, src2: 1000}
    val budgets = Sampling.mixtureTargets(
      Map("src1" -> 3.0, "src2" -> 1.0), 4000L)
    assert(budgets == Map("src1" -> 3000L, "src2" -> 1000L))
    assert(rows(outParquet(wd, "curw")) ==
      rows(Curation.curate(spark, docs, "doc_id", "text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = budgets))))
    // both or neither form is refused
    val e = intercept[Exception](runTask(wd,
      s"""{"tasks": [{"type": "curate", "name": "qx",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "curate": {},
         |  "target": {"file": "curx", "truncate": true}}]}""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("exactly one of budgets or weights")))
  }

  test("curate task with tokenizer == Curation.curateTokens (the q115 terminal from a task file)") {
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "curate", "name": "qt",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "curate": {"budgets": {"src1": 2000, "src2": 1000},
         |             "tokenizer": "bpe", "seq_len": 64},
         |  "target": {"file": "curt", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "curt")) ==
      rows(Curation.curateTokens(spark, docs, "doc_id", "text", "source",
        keyIndexPath = None, benchmark = None,
        cfg = Curation.Config(budgets = Map("src1" -> 2000L, "src2" -> 1000L),
          seqLen = 64),
        graft.functions.TokenCounters.tinyBpe)))
    // curateTokensTo: the write terminal lands the same rows and leaves
    // no cached plans behind
    Curation.curateTokensTo(spark, docs, "doc_id", "text", "source",
      None, None,
      Curation.Config(budgets = Map("src1" -> 2000L, "src2" -> 1000L),
        seqLen = 64, materialize = "memdisk"),
      graft.functions.TokenCounters.tinyBpe, s"$wd/curto")
    assert(rows(spark.read.parquet(s"$wd/curto")) == rows(outParquet(wd, "curt")))
    assert(spark.sharedState.cacheManager.isEmpty,
      "curateTokensTo must unpersist its stage boundaries")
  }

  test("transform block pre-shapes the corpus before the operator") {
    // the shared ETL transform contract applies to pipeline tasks too:
    // filter out a slice, then excise — equal to op over the filtered df
    val wd = tmpDir("graft_pipetask_")
    runTask(wd,
      s"""{"tasks": [{"type": "excise", "name": "f",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "transform": {"filter": "{source} == 'src1'"},
         |  "excise": {"w": 8},
         |  "target": {"file": "exf", "truncate": true}}]}""".stripMargin)
    assert(rows(outParquet(wd, "exf")) ==
      rows(Dedup.exciseDupSpans(docs.where(col("source") === "src1"),
        "doc_id", "text", w = 8)))
  }

  test("compact task: output mode drops replay duplicates, files mode merges files") {
    import spark.implicits._
    val wd = tmpDir("graft_pipetask_")
    // an outPath with an at-least-once duplicate (same id, more excised)
    Files.createDirectories(Paths.get(s"$wd/output"))
    Seq((1L, "a b", 4L, 2L), (1L, "a", 1L, 3L), (2L, "keep", 1L, 0L))
      .toDF("doc_id", "clean_text", "n_words", "n_excised")
      .repartition(4).write.parquet(s"$wd/output/ingested")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "compact", "name": "o",
         |   "compact": {"mode": "output", "path": "output/ingested"}},
         |  {"type": "compact", "name": "f",
         |   "compact": {"path": "output/ingested", "files": 1}}]}""".stripMargin)
    assert(rows(outParquet(wd, "ingested")) ==
      Seq((1L, "a", 1L, 3L), (2L, "keep", 1L, 0L))
        .toDF("doc_id", "clean_text", "n_words", "n_excised")
        .collect().map(_.toString).sorted.toSeq)
    assert(graft.ops.IndexMaintenance.dataFileCount(spark,
      s"$wd/output/ingested") == 1)
  }

  test("crawl recipe e2e: one task file runs digest rung + robots gate + PII scrub + language-routed curation + WET shipping") {
    import graft.sources.{WarcReader, WarcWriter}
    import spark.implicits._
    val wd = tmpDir("graft_pipetask_recipe_")
    Files.createDirectories(Paths.get(s"$wd/input"))
    val base = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass"
    def page(head: String, body: String) =
      s"<html><head>$head</head><body><p>$body</p></body></html>"
    def resp(i: Int, html: String, hdrs: Seq[(String, String)] = Nil) =
      WarcWriter.responseRecord(s"https://ex.com/p$i",
        "2026-01-02T03:04:05Z", f"<urn:rcp:$i%04d>", html, "utf-8",
        declareInHeader = true, httpHeaders = hdrs)
    WarcWriter.write(spark, s"$wd/input/crawl.warc.gz", Iterator(
      // 1 and 2: byte-identical (the digest rung collapses pre-decode)
      resp(1, page("", s"$base mail one@ex.com today")),
      resp(2, page("", s"$base mail one@ex.com today")),
      // 3: meta-robots noindex — must never reach training
      resp(3, page("<meta name=\"robots\" content=\"noindex\">",
        s"$base mail three@ex.com today")),
      // 4: header opt-out — dies pre-decode
      resp(4, page("", s"$base mail four@ex.com today"),
        hdrs = Seq("X-Robots-Tag" -> "noindex")),
      // 5: differs from 1 ONLY in its PII — collapses after redaction
      resp(5, page("", s"$base mail five@ex.com today")),
      // 6: genuinely distinct survivor
      resp(6, page("", s"$base and a closing thought from 10.1.2.3"))))
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "intake", "name": "clean",
         |   "source": {"format": "warc", "folder": "input",
         |              "file": "crawl.warc.gz", "digest_dedup": true},
         |   "intake": {"id": "record_id", "min_words": 10,
         |              "min_stop_hits": 0, "robots_gate": true,
         |              "redact_pii": true},
         |   "target": {"file": "clean", "truncate": true}},
         |  {"type": "curate", "name": "recipe",
         |   "source": {"folder": "$wd", "file": "output/clean"},
         |   "curate": {"text": "norm_text", "by_language": true,
         |              "budgets": {"en": 100000, "und": 100000},
         |              "min_quality": 0.0},
         |   "target": {"file": "recipe", "truncate": true}},
         |  {"type": "dedup", "name": "ship",
         |   "source": {"folder": "$wd", "file": "output/clean"},
         |   "dedup": {"id": "doc_id", "key": "doc_id"},
         |   "target": {"format": "wet", "file": "textcrawl",
         |              "truncate": true, "shards": 1}}
         |]}""".stripMargin)
    // the clean table: 4 died at the digest rung (dup of 1... no — 2
    // died there), robots header (4), robots meta (3); 1≡5 collapse at
    // the redacted exact dedup; 6 survives alone
    val clean = outParquet(wd, "clean")
      .select("doc_id", "norm_text", "n_dupes").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(clean.keySet == Set("<urn:rcp:0001>", "<urn:rcp:0006>"),
      s"${clean.keySet}")
    assert(clean("<urn:rcp:0001>")._2 == 2L,
      "the PII-only variant must collapse into the representative " +
        s"(got ${clean("<urn:rcp:0001>")})")
    assert(clean.values.forall { case (t, _) =>
      t.contains("<EMAIL>") || t.contains("<IP>") },
      "placeholders must appear in every surviving text")
    assert(clean.values.forall(v => !v._1.contains("@ex.com")),
      "raw PII must be gone")
    // the curated table: language-routed strata, parity vs the ops
    val recipe = outParquet(wd, "recipe")
    val strata = recipe.select("source").distinct()
      .as[String].collect().toSet
    assert(strata.subsetOf(Set("de", "en", "es", "fr", "und")) &&
      strata.nonEmpty, s"$strata")
    val viaOps = graft.ops.Curation.curateByLanguage(spark,
      outParquet(wd, "clean"), "doc_id", "norm_text",
      keyIndexPath = None, benchmark = None,
      cfg = Curation.Config(
        budgets = Map("en" -> 100000L, "und" -> 100000L),
        minQuality = 0.0))
    assert(rows(recipe) == rows(viaOps), "task recipe == ops composition")
    // the WET shipment (task 3): the clean text as conversion records
    val shipped = WarcReader.read(spark, s"$wd/output/textcrawl")
      .collect()
    assert(shipped.length == 2 &&
      shipped.forall(_.warc_type == "conversion"))
    assert(shipped.forall(r =>
      new String(r.payload, "UTF-8").contains("<EMAIL>") ||
        new String(r.payload, "UTF-8").contains("<IP>")))
  }

  test("compact task: latest mode is compactLatest byte-for-byte") {
    import spark.implicits._
    val wd = tmpDir("graft_pipetask_cl_")
    Files.createDirectories(Paths.get(s"$wd/output"))
    // an appended freshness history: two batches' per-url newest rows
    val hist = Seq(
      ("https://ex.com/a", "2026-01-01T00:00:00Z", "<urn:1>", 2L, "a v1"),
      ("https://ex.com/a", "2026-02-01T00:00:00Z", "<urn:2>", 1L, "a v2"),
      ("https://ex.com/b", "2026-01-05T00:00:00Z", "<urn:3>", 1L, "b v1"))
      .toDF("canon_url", "warc_date", "record_id", "n_fetches", "html")
    hist.write.parquet(s"$wd/output/fresh")
    // the op's answer on an identical copy
    hist.write.parquet(s"$wd/output/fresh_op")
    graft.ops.IndexMaintenance.compactLatest(spark, s"$wd/output/fresh_op")
    runTask(wd,
      s"""{"tasks": [{"type": "compact", "name": "l",
         |  "compact": {"mode": "latest", "path": "output/fresh"}}]}"""
        .stripMargin)
    assert(rows(outParquet(wd, "fresh")) == rows(
      spark.read.parquet(s"$wd/output/fresh_op")))
    // the upsert happened: one row per url, n_fetches summed
    val a = spark.read.parquet(s"$wd/output/fresh")
      .where(col("canon_url") === "https://ex.com/a").collect().head
    assert(a.getAs[String]("record_id") == "<urn:2>" &&
      a.getAs[Long]("n_fetches") == 3L)
  }

  test("rebuild task: re-derives index geometry from the task file") {
    import spark.implicits._
    val wd = tmpDir("graft_pipetask_rb_")
    Files.createDirectories(Paths.get(s"$wd/output"))
    val emb = (0L until 40L).map(i =>
        (i, Seq.fill(8)(((i * 17 + 3) % 11 - 5).toFloat / 5f)))
      .toDF("vec_id", "embedding")
    graft.ops.Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding",
      s"$wd/output/vidx", nCells = 4)
    runTask(wd,
      s"""{"tasks": [{"type": "rebuild", "name": "rb",
         |  "rebuild": {"path": "output/vidx"}}]}""".stripMargin)
    // a rebuilt fresh layout audits at identity and keeps its meta
    val d = graft.ops.Similarity.codeRebuildDrift(spark,
      s"$wd/output/vidx", "vec_id")
      .agg(sum(col("n_stored")).as("s"), sum(col("n_stayed")).as("y"))
      .as[(Long, Long)].head()
    assert(d._1 == 40L && d._2 == 40L)
    assert(graft.ops.Similarity.readIndexMeta(spark, s"$wd/output/vidx")
      .get("layout").contains("ivf_int8"))
    // text layout: the same task type rebands from the persisted sets,
    // with k/bands overrides retuning the screen off the q139 audit
    Dedup.buildTextIndex(docs.limit(60), "doc_id", "text", s"$wd/output/tidx")
    runTask(wd,
      s"""{"tasks": [{"type": "rebuild", "name": "rt",
         |  "rebuild": {"path": "output/tidx", "k": "16", "bands": "8"}}]}"""
        .stripMargin)
    val tm = graft.ops.Similarity.readIndexMeta(spark, s"$wd/output/tidx")
    assert(tm("layout") == "text_dedup" && tm("k") == "16" &&
      tm("bands") == "8")
    assert(rows(Dedup.minHashLshFromIndex(spark, s"$wd/output/tidx")) ==
      rows(Dedup.minHashLsh(docs.limit(60), "doc_id", "text",
        k = 16, bands = 8)))
  }

  test("compact task: line_deltas mode folds committed tokens via the checkpoint") {
    import spark.implicits._
    val wd = tmpDir("graft_pipetask_lines_")
    Dedup.buildLineIndex(
      Seq((1L, "chrome line\none"), (2L, "chrome line\ntwo"))
        .toDF("doc_id", "text"),
      "doc_id", "text", s"$wd/output/lidx", minDocFreq = 2)
    Dedup.appendLineCounts(Seq((10L, "chrome line\nten")).toDF("doc_id", "text"),
      "doc_id", "text", s"$wd/output/lidx", "b0")
    Dedup.appendLineCounts(Seq((11L, "chrome line\neleven")).toDF("doc_id", "text"),
      "doc_id", "text", s"$wd/output/lidx", "b1")
    // a checkpoint whose commits say batch 0 committed, batch 1 did not
    Files.createDirectories(Paths.get(s"$wd/output/ckpt/commits"))
    Files.writeString(Paths.get(s"$wd/output/ckpt/commits/0"), "{}")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "compact", "name": "l",
         |   "compact": {"mode": "line_deltas", "path": "output/lidx",
         |               "checkpoint": "output/ckpt"}}]}""".stripMargin)
    val dirs = new java.io.File(s"$wd/output/lidx/lines").list()
      .filter(_.startsWith("delta=")).toSet
    assert(dirs == Set("delta=base", "delta=b1"),
      s"b0 folds (committed), b1 stays (in-flight): $dirs")
  }

  test("fit + score tasks: the nb lifecycle == buildNbModel/nbScoreWithModel") {
    val wd = tmpDir("graft_pipetask_nb_")
    val labeled = docs.withColumn("label",
      col("source").isin("src0", "src1", "src2").cast("int"))
    labeled.write.parquet(s"$wd/input/labeled")
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "fit", "name": "f",
         |   "source": {"folder": "input", "file": "labeled"},
         |   "fit": {"method": "nb", "model": "output/nbm"}},
         |  {"type": "score", "name": "s",
         |   "source": {"folder": "input", "file": "labeled"},
         |   "score": {"method": "nb", "model": "output/nbm",
         |             "min_log_odds": 0},
         |   "target": {"file": "scored", "truncate": true}}]}""".stripMargin)
    val expected = graft.ops.TextAnalysis.nbScoreWithModel(spark,
        labeled, "doc_id", "text", s"$wd/output/nbm")
      .where(col("log_odds") > 0)
    val got = outParquet(wd, "scored")
    assert(got.count() == expected.count() && got.count() > 0)
    assert(rows(got.select("doc_id", "log_odds", "pred")) ==
      rows(expected.select("doc_id", "log_odds", "pred")))
    // the attached rows keep the source columns
    assert(got.columns.contains("text") && got.columns.contains("source"))
  }

  test("score task: ppl bands and dsir selection match the ops") {
    val wd = tmpDir("graft_pipetask_sc_")
    Files.createDirectories(Paths.get(s"$wd/output"))
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "fit", "name": "f",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "fit": {"method": "ppl", "model": "output/lm",
         |           "train_where": "lang = 'en'"}},
         |  {"type": "score", "name": "p",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "score": {"method": "ppl", "model": "output/lm",
         |             "lo_bits": 4.9, "hi_bits": 5.0},
         |   "target": {"file": "ppl", "truncate": true}},
         |  {"type": "score", "name": "d",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "score": {"method": "dsir", "n": 20,
         |             "target_where": "source IN ('src0','src1','src2')"},
         |   "target": {"file": "sel", "truncate": true}}]}""".stripMargin)
    val bands = graft.ops.TextAnalysis.perplexityPartition(
      docs.where(col("lang") === "en"), docs, "doc_id", "text", 4.9, 5.0)
    assert(rows(outParquet(wd, "ppl")
        .select("doc_id", "xent_bits", "bucket")) ==
      rows(bands.select("doc_id", "xent_bits", "bucket")))
    val sel = Sampling.dsirResample(docs, "doc_id", "text",
      col("source").isin("src0", "src1", "src2"), n = 20)
    assert(rows(outParquet(wd, "sel").select("doc_id", "log_w")) ==
      rows(sel.select("doc_id", "log_w")))
  }

  test("score task: a ppl band needs both bounds and lo_bits < hi_bits") {
    val wd = tmpDir("graft_pipetask_band_")
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    def rejected(band: String): Seq[Throwable] = chain(intercept[Exception](runTask(wd,
      s"""{"tasks": [{"type": "score", "name": "p",
         |  "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |  "score": {"method": "ppl", "train_where": "lang = 'en'", $band},
         |  "target": {"file": "pb", "truncate": true}}]}""".stripMargin)))
      .filter(_.isInstanceOf[IllegalArgumentException])
    // an inverted band would label no row `middle`
    assert(rejected(""""lo_bits": 5.0, "hi_bits": 4.9""").exists(
      _.getMessage.contains("loBits < hiBits")))
    // one bound alone would silently add no band: the message names the other
    assert(rejected(""""lo_bits": 4.9""").exists(_.getMessage.contains("hi_bits is missing")))
    assert(rejected(""""hi_bits": 5.0""").exists(_.getMessage.contains("lo_bits is missing")))
  }

  test("fit + score tasks: the dsir lifecycle == buildDsirModel/dsirScoreWithModel") {
    val wd = tmpDir("graft_pipetask_dsir_")
    Files.createDirectories(Paths.get(s"$wd/output"))
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "fit", "name": "f",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "fit": {"method": "dsir", "model": "output/dm",
         |           "target_where": "source IN ('src0','src1','src2')"}},
         |  {"type": "score", "name": "s",
         |   "source": {"folder": "$sfDir", "file": "documents.parquet"},
         |   "score": {"method": "dsir", "model": "output/dm",
         |             "min_log_w": 0},
         |   "target": {"file": "dw", "truncate": true}}]}""".stripMargin)
    val expected = Sampling.dsirScoreWithModel(spark, docs, "doc_id", "text",
        s"$wd/output/dm")
      .where(col("log_w") >= 0)
    assert(rows(outParquet(wd, "dw").select("doc_id", "log_w")) ==
      rows(expected.select("doc_id", "log_w")))
    assert(outParquet(wd, "dw").count() > 0)
  }

  test("fit + score tasks: the knn-seed lifecycle == buildLabelSeed/knnClassify") {
    val wd = tmpDir("graft_pipetask_knn_")
    Files.createDirectories(Paths.get(s"$wd/output"))
    val embSf = "/root/testdata/sf0.001"
    runTask(wd,
      s"""{"tasks": [
         |  {"type": "fit", "name": "f",
         |   "source": {"folder": "$embSf", "file": "embeddings.parquet"},
         |   "fit": {"method": "seed", "model": "output/seed",
         |           "id": "vec_id", "vec": "embedding", "label": "label",
         |           "train_where": "vec_id % 10 = 0"}},
         |  {"type": "score", "name": "s",
         |   "source": {"folder": "$embSf", "file": "embeddings.parquet"},
         |   "score": {"method": "knn", "model": "output/seed",
         |             "id": "vec_id", "vec": "embedding", "k": 3,
         |             "min_vote_frac": 0.5},
         |   "target": {"file": "kl", "truncate": true}}]}""".stripMargin)
    val emb = spark.read.parquet(s"$embSf/embeddings.parquet")
    val expected = graft.ops.Similarity.knnClassify(
        spark.read.parquet(s"$wd/output/seed/seed"), emb,
        "id", "vec", "label", "vec_id", "embedding", k = 3,
        excludeSelf = false, broadcastLabeled = true)
      .where(col("vote_frac") >= 0.5)
    assert(rows(outParquet(wd, "kl")
        .select("vec_id", "pred_label", "vote_frac")) ==
      rows(expected.select(col("q_id").as("vec_id"), col("pred_label"),
        col("vote_frac"))))
    assert(outParquet(wd, "kl").count() > 0)
  }
}
