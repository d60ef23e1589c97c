package graft.tasks

import graft.config.TaskConfig.Node
import graft.ops.{Curation, Dedup, Packing, Sampling, TextAnalysis}
import graft.runner.TaskLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.{JDecimal, JDouble, JInt, JString}

/** The LLM-curation families exposed as TASK TYPES — the reference's
  * entire user surface is JSON task files (TaskFactory, task.py:577-599),
  * so the dedup/excise/sample/pack/shuffle/curate operators are drivable
  * the same way the ETL shapes are: a config node per stage, mapped 1:1
  * onto the oracle-checked ops (spec-pinned byte-identical to the
  * qNN query outputs).
  *
  * Sources and targets take a `format` key — `parquet` (the default:
  * corpora are columnar) or `csv` (the reference's all-string file
  * surface, single-file writer). The shared [[Tasks.etl]] harness
  * applies: empty-source skip, the standard transform block BEFORE the
  * operator (so `convert`/`filter` can pre-shape the corpus), progress
  * metering, per-task logs.
  */
object PipelineTasks {

  /** The task's source, with whether it holds a row when that is known
    * without a Spark job (a single CSV file).
    */
  private def sourceDf(ctx: TaskContext, task: Node): (DataFrame, Option[Boolean]) = {
    val src = task("source")
    val path = s"${ctx.dir(src.str("folder", "input"))}/${src.str("file")}"
    val format = src.str("format", "parquet")
    def read: DataFrame = format match {
      case "parquet" => graft.Tables.parquet(ctx.spark, path)
      case "jsonl"   => src.strOpt("schema") match {
        // "schema" is a DDL string ("doc_id LONG, text STRING"). Omitting
        // it falls back to inference — fine for a one-off task file,
        // but a SECOND full read at corpus scale: declare the schema.
        case Some(ddl) => ctx.spark.read.schema(ddl).json(path)
        case None      => ctx.spark.read.json(path)
      }
      case "orc" => src.strOpt("schema") match {
        // ORC is self-describing, so omitting "schema" costs only the
        // footer read — but a declared DDL stays the enforced contract.
        case Some(ddl) => ctx.spark.read.schema(ddl).orc(path)
        case None      => ctx.spark.read.orc(path)
      }
      case "warc" =>
        // crawl-native intake: response records charset-decoded to an
        // `html` column (plus url/warc_date/record_id/http_status/
        // http_content_type), so `"type": "intake"` composes directly:
        // {"source": {"format": "warc", ...}, "intake": {"id": "record_id"}}.
        // `"digest_dedup": true` runs the pre-decode digest rung first
        // (WarcTask's mode=deduped, available to EVERY pipeline task;
        // `"verify_digest": true` recomputes keys locally instead of
        // trusting the writer's claims — the untrusted-crawl setting);
        // `"latest": true` the canonical-url newest-fetch rung;
        // `"robots_gate": true` honors noindex opt-outs (X-Robots-Tag
        // header pre-decode, meta robots post-decode).
        val recs = graft.sources.WarcReader.read(ctx.spark, path)
        if (src.flag("digest_dedup"))
          graft.sources.WarcReader.responsesDeduped(recs,
            verifyDigests = src.flag("verify_digest"))
        else if (src.flag("latest"))
          graft.sources.WarcReader.latestByUrl(recs)
        else graft.sources.WarcReader.responses(recs,
          robotsGate = src.flag("robots_gate"))
      case f => throw new IllegalArgumentException(s"unknown source format: $f")
    }
    if (format == "csv") graft.sources.Sources.csvWithRows(ctx.spark, path, src)
    else (read, None)
  }

  private def sink(ctx: TaskContext, task: Node)(df: DataFrame,
      lg: TaskLog, meter: graft.runner.ProgressMeter): Unit = {
    val tgt = task("target")
    lazy val out = s"${ctx.dir(tgt.str("folder", "output"))}/${tgt.str("file")}"
    tgt.str("format", "parquet") match {
      case f @ ("parquet" | "jsonl" | "orc") =>
        df.write.mode(if (tgt.bool("truncate")) "overwrite" else "append")
          .format(if (f == "jsonl") "json" else f).save(out)
        lg.write(s"wrote $out")
      case "csv" => Tasks.CsvTarget(ctx, task)(df, lg, meter)
      case "warc" =>
        // crawl REPACK: rows in the WarcRecord response projection
        // (url/warc_date/record_id/http_status?/http_content_type?/
        // payload) write back out as `.warc.gz` shards, one per
        // partition, executor-side — the warc source reads them back.
        // `truncate` follows every other target's contract (clear the
        // stale shards, or fail loudly on a shard-name collision); a
        // successful commit sweeps stranded `_tmp.` attempt files.
        graft.sources.WarcWriter.prepareShardDir(ctx.spark, out,
          tgt.bool("truncate"))
        graft.sources.WarcWriter.writeShards(
          tgt.intOpt("shards").map(df.repartition(_)).getOrElse(df), out)
        graft.sources.WarcWriter.sweepTmpFiles(ctx.spark, out)
        lg.write(s"wrote $out")
      case "wet" =>
        // extracted-text shards (`conversion` records, text/plain) —
        // intake/curation output ships as a text crawl; `text` names
        // the column (default: the first of norm_text/clean_text/text)
        val textCol = tgt.strOpt("text").getOrElse(
          Seq("norm_text", "clean_text", "text").find(df.columns.contains)
            .getOrElse(throw new IllegalArgumentException(
              s"wet target: no text column in [${df.columns.mkString(", ")}]")))
        graft.sources.WarcWriter.prepareShardDir(ctx.spark, out,
          tgt.bool("truncate"))
        graft.sources.WarcWriter.writeTextShards(
          tgt.intOpt("shards").map(df.repartition(_)).getOrElse(df), out,
          textCol)
        graft.sources.WarcWriter.sweepTmpFiles(ctx.spark, out)
        lg.write(s"wrote $out")
      case f => throw new IllegalArgumentException(s"unknown target format: $f")
    }
  }

  // int-or-string tolerance (the Node.intOpt convention: the reference's
  // JSON files quote numbers freely) — and a LOUD failure on anything
  // unparseable: a silently dropped entry here is silent data loss
  // downstream (a stratum with no budget samples to zero rows)
  private def numMap(node: Node, key: String): Map[String, Double] =
    node.objMap(key).map {
      case (k, JDouble(v))  => k -> v
      case (k, JDecimal(v)) => k -> v.toDouble
      case (k, JInt(v))     => k -> v.toDouble
      case (k, JString(s))  => k -> s.trim.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(s"$key.$k: not a number: '$s'"))
      case (k, v) => throw new IllegalArgumentException(
        s"$key.$k: expected a number, got ${v.getClass.getSimpleName}")
    }

  private def longMap(node: Node, key: String): Map[String, Long] =
    node.objMap(key).map {
      case (k, JInt(v))     => k -> v.toLong
      case (k, JDouble(v))  => k -> v.toLong
      case (k, JDecimal(v)) => k -> v.toLong
      case (k, JString(s))  => k -> s.trim.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$key.$k: not an integer: '$s'"))
      case (k, v) => throw new IllegalArgumentException(
        s"$key.$k: expected an integer, got ${v.getClass.getSimpleName}")
    }

  private def tokenCol(cfg: Node): DataFrame => DataFrame = df =>
    cfg.strOpt("tokens") match {
      // an existing numeric column…
      case Some(c) => df.withColumn("n_tokens", col(c).cast("long"))
      // …or counted from text under a named tokenizer-SPI counter
      // (`"tokenizer": "bpe"`, or `"bpe:<merges.txt>"` for a user
      // vocabulary — graft.functions.TokenCounters), default the
      // q52/q58 ws convention
      case None =>
        val counter = graft.functions.TokenCounters.forName(
          cfg.str("tokenizer", "whitespace"))
        df.withColumn("n_tokens",
          graft.functions.TokenCounters.count(counter, col(cfg.str("text", "text"))))
    }

  /** `dedup`: keep one representative row per identical key — min-id,
    * the q27 rule — optionally after screening against a standing
    * [[Dedup.buildExactKeyIndex]] layout (`index`, the q62 admission
    * gate). Schema passes through unchanged.
    */
  object DedupTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "dedup")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("dedup")
        val id = cfg.str("id", "doc_id")
        val key = cfg.str("key", cfg.str("text", "text"))
        val screened = cfg.strOpt("index") match {
          case Some(p) => Dedup.exactDedupAgainstIndex(ctx.spark, df, key, ctx.dir(p))
          case None    => df
        }
        val reps = Dedup.exact(screened, id, key).select(col(id))
        sink(ctx, task)(screened.join(reps, Seq(id), "left_semi"), lg, meter)
      }
  }

  /** `excise`: duplicated-span rewriting — `mode` `cross-doc` (q88
    * default), `within-doc` (q90 collapse), `lines` (q97 corpus-
    * frequency boilerplate removal at `min_doc_freq`) or `paragraphs`
    * (q152). With `index` set, `cross-doc` runs against a standing gram
    * index (q91), `lines`/`paragraphs` against a line/paragraph-count
    * index (q99); `within-doc` has no standing form and is rejected, as
    * is any unknown mode. Output is the ops' (id, clean_text, n_words,
    * n_excised) contract — the unit modes count units, not words:
    * (…, n_lines | n_paras, n_removed).
    */
  object ExciseTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "excise")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("excise")
        val id = cfg.str("id", "doc_id")
        val text = cfg.str("text", "text")
        val w = cfg.int("w", 8)
        val out = (cfg.strOpt("index"), cfg.str("mode", "cross-doc")) match {
          // standing-index forms: line- or paragraph-count removal
          // (q99), gram excision (q91) for the cross-doc default
          case (Some(p), "lines") =>
            Dedup.removeLinesAgainstIndex(ctx.spark, df, id, text, ctx.dir(p))
          case (Some(p), "paragraphs") =>
            Dedup.removeParagraphsAgainstIndex(ctx.spark, df, id, text, ctx.dir(p))
          case (Some(_), "within-doc") => throw new IllegalArgumentException(
            "excise mode within-doc has no standing-index form: drop `index`")
          case (Some(p), "cross-doc") =>
            Dedup.exciseAgainstIndex(ctx.spark, df, id, text, ctx.dir(p))
          case (None, "cross-doc")  => Dedup.exciseDupSpans(df, id, text, w)
          case (None, "within-doc") => Dedup.collapseRepeats(df, id, text, w)
          // line-granular, no keeper: "min_doc_freq" is the ban
          // threshold (w is gram width elsewhere, unused here)
          case (None, "lines") => Dedup.removeFrequentLines(df, id, text,
            cfg.int("min_doc_freq", 2))
          // paragraph-granular (q152): blank-line units, same ban rule
          case (None, "paragraphs") =>
            Dedup.removeFrequentParagraphs(df, id, text,
              cfg.int("min_doc_freq", 2))
          case (_, m) =>
            throw new IllegalArgumentException(s"unknown excise mode: $m")
        }
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `sample`: deterministic md5 sampling — exactly one of `frac`
    * (plain rate), `fracs` (per-stratum rates, q48), `budgets`
    * (per-stratum token budgets resolved to rates from the observed
    * totals, q58; with `"exact": true` the greedy md5-prefix form that
    * hits each budget exactly within one document — q141), or
    * `weights` + `total_tokens` (a mixture RECIPE —
    * normalized weights × total budget resolved to per-stratum rates,
    * q133/q134; `replacement: true` upsamples the epochs > 1 strata
    * with a `copy` index instead of capping at 1). Schema passes
    * through unchanged (plus `copy` under replacement).
    */
  object SampleTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "sample")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("sample")
        val id = cfg.str("id", "doc_id")
        val stratum = cfg.str("stratum", "source")
        val forms = Seq("weights", "budgets", "fracs", "frac").filter(cfg.has)
        require(forms.size == 1,
          s"sample task: exactly one of weights/budgets/fracs/frac " +
            s"(got: ${if (forms.isEmpty) "none" else forms.mkString(", ")})")
        val out =
          if (cfg.has("weights")) {
            val rep = cfg.str("replacement", "false").toBoolean
            val fracs = Sampling.mixtureFracs(tokenCol(cfg)(df), stratum,
              "n_tokens", numMap(cfg, "weights"),
              cfg.str("total_tokens").toLong, allowReplacement = rep)
            if (rep) Sampling.upsample(df, id, stratum, fracs)
            else Sampling.stratifiedSample(df, id, stratum, fracs)
          } else if (cfg.has("budgets")) {
            val withTok = tokenCol(cfg)(df)
            // "exact": true switches from the expectation sampler
            // (rates from observed totals, the q58 form) to the greedy
            // md5-prefix that hits each budget exactly within one doc
            // (q141 / the streaming gate's batch rule); the semi-join
            // keeps the task's schema-passthrough contract
            if (cfg.str("exact", "false").toBoolean)
              df.join(Sampling.tokenBudgetPrefix(withTok, id, stratum,
                  "n_tokens", longMap(cfg, "budgets"))
                  .select(org.apache.spark.sql.functions.col(id)),
                Seq(id), "left_semi")
            else {
              val fracs = Sampling.tokenBudgetFracs(withTok, stratum,
                "n_tokens", longMap(cfg, "budgets"))
              Sampling.stratifiedSample(df, id, stratum, fracs)
            }
          } else if (cfg.has("fracs"))
            Sampling.stratifiedSample(df, id, stratum, numMap(cfg, "fracs"))
          else Sampling.sample(df, id, cfg.str("frac").toDouble)
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `split`: deterministic train/val/test assignment — keyed on `id`
    * ([[Sampling.splitLabel]], q47) or, when `group` names a column, on
    * the GROUP so correlated rows never straddle the eval boundary
    * ([[Sampling.splitByGroup]], q127). `train_frac`/`val_frac` default
    * 0.8/0.1; optional `keep` filters the output to one side (the
    * "emit only train" recipe step).
    */
  object SplitTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "split")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("split")
        val tf = cfg.str("train_frac", "0.8").toDouble
        val vf = cfg.str("val_frac", "0.1").toDouble
        val labeled = (cfg.strOpt("group"), cfg.flag("leak_screen")) match {
          // group split + built-in contamination screen (q147): train
          // docs sharing shingles with the held-out side -> 'dropped'
          case (Some(g), true) => Sampling.leakFreeSplit(df,
            cfg.str("id", "doc_id"), cfg.str("text", "text"), g, tf, vf,
            w = cfg.str("w", "4").toInt,
            maxDf = cfg.str("max_df", "1000").toInt,
            minHits = cfg.str("min_hits", "2").toInt)
          case (Some(g), false) => Sampling.splitByGroup(df, g, tf, vf)
          case (None, true) => throw new IllegalArgumentException(
            "split.leak_screen requires split.group (the screen relabels " +
              "train rows against the held-out side of a GROUP split)")
          case (None, _) =>
            Sampling.splitLabel(df, cfg.str("id", "doc_id"), tf, vf)
        }
        val out = cfg.strOpt("keep") match {
          case Some(side) =>
            require(Seq("train", "val", "test").contains(side),
              s"unknown split side: $side")
            labeled.where(org.apache.spark.sql.functions.col("split") === side)
          case None => labeled
        }
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** Gopher thresholds from a task node — every knob optional, defaults
    * are the published rule values ([[TextAnalysis.GopherThresholds]]).
    */
  private def gopherTh(cfg: Node): TextAnalysis.GopherThresholds = {
    val d = TextAnalysis.GopherThresholds()
    TextAnalysis.GopherThresholds(
      minWords = cfg.str("min_words", d.minWords.toString).toLong,
      maxWords = cfg.str("max_words", d.maxWords.toString).toLong,
      minMeanWordLen =
        cfg.str("min_mean_word_len", d.minMeanWordLen.toString).toDouble,
      maxMeanWordLen =
        cfg.str("max_mean_word_len", d.maxMeanWordLen.toString).toDouble,
      maxSymbolWordRatio =
        cfg.str("max_symbol_ratio", d.maxSymbolWordRatio.toString).toDouble,
      maxBulletLineFrac =
        cfg.str("max_bullet_frac", d.maxBulletLineFrac.toString).toDouble,
      maxEllipsisLineFrac =
        cfg.str("max_ellipsis_frac", d.maxEllipsisLineFrac.toString).toDouble,
      minAlphaWordFrac =
        cfg.str("min_alpha_frac", d.minAlphaWordFrac.toString).toDouble,
      minStopHits = cfg.str("min_stop_hits", d.minStopHits.toString).toLong)
  }

  /** `gopher`: the quality-rule decision over a text column — default
    * emits the q146 audit table (per-rule verdicts + keep); `keep_only`
    * instead passes the SOURCE rows that clear every rule through
    * unchanged (the filter form, schema preserved).
    */
  object GopherTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "gopher")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("gopher")
        val text = cfg.str("text", "text")
        val out =
          if (cfg.flag("keep_only"))
            df.where(TextAnalysis.gopherKeep(col(text), gopherTh(cfg)))
          else
            TextAnalysis.gopherFilter(df, cfg.str("id", "doc_id"), text,
              gopherTh(cfg))
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `intake`: the composed web-corpus intake (q148) — html extraction,
    * Gopher keep gate, canonical normalization, exact dedup to min-id
    * representatives. `"redact_pii": true` threads the q45 scrub
    * between normalization and the dedup (pages differing only in
    * embedded PII collapse); `"robots_gate": true` drops noindex
    * opt-outs first ([[graft.ops.Web.robotsGate]] — meta robots always,
    * the X-Robots-Tag header when the source carries `http_robots`,
    * e.g. a warc source). Output: (doc_id, norm_text, n_dupes).
    */
  object IntakeTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "intake")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("intake")
        val html = cfg.str("html", "html")
        val polite =
          if (cfg.flag("robots_gate")) graft.ops.Web.robotsGate(df, html)
          else df
        sink(ctx, task)(graft.ops.Web.intake(polite,
          cfg.str("id", "doc_id"), html,
          gopherTh(cfg),
          lowercase = cfg.flag("lowercase"),
          redactPii = cfg.flag("redact_pii")), lg, meter)
      }
  }

  /** `warc`: scan a WARC crawl file/dir/glob (`.gz` per extension) into
    * rows — `mode` `responses` (default: url/warc_date/record_id/
    * http_status/http_content_type + charset-decoded `html`),
    * `deduped` (the digest rung: content gate → `WARC-Payload-Digest`
    * dedup with revisit counting → decode the representative only —
    * adds payload_digest/n_fetches/n_revisits), `latest` (URL-level
    * re-fetch dedup: canonical-url key, NEWEST fetch kept — adds
    * canon_url/n_fetches), or `records` (every record type, raw
    * payload bytes). `decode_all` disables the
    * text-ish content-type gate on the decoding modes; `robots_gate`
    * (responses mode) honors noindex opt-outs — X-Robots-Tag header
    * kills pre-decode, meta robots post-decode. The standard
    * transform block and sink apply, so `warc` → filter → parquet is
    * one task; the full crawl→training-text path is this source under
    * an `intake` task (`"source": {"format": "warc"}`).
    */
  object WarcTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val cfg = task("warc")
      val src = task("source")
      val path = s"${ctx.dir(src.str("folder", "input"))}/${src.str("file")}"
      val gate =
        if (cfg.flag("decode_all")) Nil
        else graft.sources.WarcReader.textishContentTypes
      val df = cfg.str("mode", "responses") match {
        case "responses" => graft.sources.WarcReader.responses(
          graft.sources.WarcReader.read(ctx.spark, path), gate,
          robotsGate = cfg.flag("robots_gate"))
        case "deduped"   => graft.sources.WarcReader.responsesDeduped(
          graft.sources.WarcReader.read(ctx.spark, path), gate,
          verifyDigests = cfg.flag("verify_digest"))
        case "latest"    => graft.sources.WarcReader.latestByUrl(
          graft.sources.WarcReader.read(ctx.spark, path), gate)
        // digest dedup keeping the RAW payload — the repack source
        // (compose with {"target": {"format": "warc"}})
        case "deduped_raw" =>
          val recs = graft.sources.WarcReader.read(ctx.spark, path)
          graft.sources.WarcReader.dedupByDigest(
            if (cfg.flag("decode_all")) recs
            else recs.where(graft.sources.WarcReader
              .textish(org.apache.spark.sql.functions.col("http_content_type"))),
            verifyDigests = cfg.flag("verify_digest"))
        case "records"   => graft.sources.WarcReader.read(ctx.spark, path).toDF
        case m => throw new IllegalArgumentException(s"unknown warc mode: $m")
      }
      Tasks.etl(ctx, task, log, "warc")((df, None)) { (d, lg, meter) =>
        sink(ctx, task)(d, lg, meter)
      }
    }
  }

  /** `block`: domain-blocklist exclusion (q150) — rows whose REGISTERED
    * domain (the [[graft.ops.Web.registeredDomain]] cut over `url`)
    * appears in the blocklist drop; the blocklist is the broadcast
    * anti-join side (policy-bounded — the corpus never shuffles).
    * `blocklist` names a parquet file/dir of domains (`domain_col`
    * picks the column, default `domain`); `psl` optionally points at a
    * publicsuffix.org-format rules file so the cut honors the full
    * published list (wildcards/exceptions) instead of the bundled
    * subset.
    */
  object BlockTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "block")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("block")
        val blocked = ctx.spark.read.parquet(
          s"${ctx.dir(cfg.str("folder", "input"))}/${cfg.str("blocklist")}")
        val rules = cfg.strOpt("psl")
          .map(p => graft.ops.Web.loadPublicSuffixes(ctx.dir(p)))
          .getOrElse(graft.ops.PublicSuffixRules.bundled)
        sink(ctx, task)(graft.ops.Web.filterBlockedDomains(df,
          cfg.str("url", "url"), blocked, cfg.str("domain_col", "domain"),
          rules), lg, meter)
      }
  }

  /** `cap`: per-key frequency throttle — keep the `n` best rows per
    * `key` by (`score` desc, id asc) via the bounded
    * [[Sampling.capPerKey]] rank (q126), the "max N docs per domain"
    * admission step.
    */
  object CapTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "cap")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("cap")
        val out = Sampling.capPerKey(df, cfg.str("id", "doc_id"),
          cfg.str("key", "source"), cfg.str("score"),
          cfg.intOpt("n").getOrElse(
            throw new IllegalArgumentException("cap: missing required key 'n'")),
          cfg.bool("broadcast", default = true))
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `pack`: concat-and-chunk sequence layout (q52) — `tokens` names a
    * numeric column, or token counts come from `text` (ws convention);
    * one window per `shard` stratum, `seq_len` tokens per sequence.
    */
  object PackTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "pack")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("pack")
        val out = Packing.pack(tokenCol(cfg)(df), cfg.str("id", "doc_id"),
          "n_tokens", cfg.str("shard", "source"), cfg.int("seq_len", 512))
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `pack_ids`: [[PackTask]] MATERIALIZED — emit the packed training
    * sequences as `array<int>` token ids ([[Packing.packTokens]])
    * instead of per-doc offsets. `tokenizer` must name an id-emitting
    * tokenizer (`bpe`, `bpe:<merges.txt>`, or a [[graft.functions
    * .TokenEncoder]] ServiceLoader provider — count-only tokenizers
    * fail fast with the reason). Output: (shard, seq_id, token_ids,
    * n_tokens, doc_starts); `pad_id` optionally fills each shard's
    * short last sequence to fixed width.
    */
  object PackIdsTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "pack_ids")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("pack_ids")
        val encoder = graft.functions.TokenCounters.encoderForName(
          cfg.str("tokenizer", "bpe"))
        val out = Packing.packTokens(df, cfg.str("id", "doc_id"),
          cfg.str("text", "text"), cfg.str("shard", "source"),
          cfg.int("seq_len", 512), encoder, padId = cfg.intOpt("pad_id"))
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `chunk`: per-doc sliding-window chunking (q98) — `max_words` per
    * chunk, `overlap` seam words repeated between consecutive chunks.
    * Output is the op's (doc_id, chunk_id, chunk_text, n_words).
    */
  object ChunkTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "chunk")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("chunk")
        val out = Packing.chunkDocs(df, cfg.str("id", "doc_id"),
          cfg.str("text", "text"), cfg.int("max_words", 512),
          cfg.int("overlap", 0))
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `shuffle`: the deterministic training-order assignment (q92) —
    * adds (shard, pos) for `shards` shards.
    */
  object ShuffleTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "shuffle")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("shuffle")
        sink(ctx, task)(Sampling.trainingOrder(df, cfg.str("id", "doc_id"),
          cfg.int("shards", 64)), lg, meter)
      }
  }

  /** `drift`: the snapshot-comparison audits as a task — the task's
    * source is the CURRENT snapshot, `reference` names the frozen
    * comparison parquet (the [[CurateTask]] `benchmark` convention for
    * a second stage input). Default mode is the PSI distribution audit
    * (q135 / [[Analytics.distributionDrift]]) over `bucket`: the
    * per-bucket counts/shares/PSI card whose psi column sums to the
    * total stability index. `mode: "diff"` emits the EXTENSIONAL view
    * instead (q136 / [[Analytics.corpusDiff]]): per-id
    * added/removed/changed/unchanged over md5(`text`) identity.
    */
  object DriftTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "drift")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("drift")
        val ref = ctx.spark.read.parquet(ctx.dir(cfg.str("reference")))
        val out = cfg.str("mode", "psi") match {
          case "psi" => graft.ops.Analytics.distributionDrift(ref, df,
            cfg.str("bucket", "lang"))
          case "diff" => graft.ops.Analytics.corpusDiff(ref, df,
            cfg.str("id", "doc_id"), cfg.str("text", "text"))
          case other =>
            throw new IllegalArgumentException(
              s"unknown drift mode: $other (psi or diff)")
        }
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `curate`: the COMPOSED pipeline (q93 / [[Curation.curate]]) as one
    * task — exactly one of `budgets` (explicit per-stratum token
    * allocations) or `weights` + `total_tokens` (a mixture recipe,
    * resolved to budgets through [[Sampling.mixtureTargets]] — the
    * q133 planning layer feeding the pipeline's own budget sampler);
    * `key_index` / `benchmark` optional stage inputs (a path to a
    * standing key index; a parquet of eval docs). Threshold knobs
    * mirror [[Curation.Config]] defaults.
    */
  object CurateTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "curate")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("curate")
        val bench = cfg.strOpt("benchmark")
          .map(p => ctx.spark.read.parquet(ctx.dir(p)))
        require(cfg.has("budgets") != cfg.has("weights"),
          "curate: exactly one of budgets or weights+total_tokens")
        val budgets =
          if (cfg.has("budgets")) longMap(cfg, "budgets")
          else Sampling.mixtureTargets(numMap(cfg, "weights"),
            cfg.str("total_tokens").toLong)
        val conf = Curation.Config(
          budgets = budgets,
          minQuality = cfg.str("min_quality", "0.5").toDouble,
          spanThreshold = cfg.str("span_threshold", "1.0").toDouble,
          exciseW = cfg.int("excise_w", 8),
          shingleW = cfg.int("shingle_w", 8),
          seqLen = cfg.int("seq_len", 512),
          nShards = cfg.int("shards", 8),
          lineMinDocFreq = cfg.intOpt("line_min_doc_freq"),
          pplModel = cfg.strOpt("ppl_model").map(ctx.dir),
          pplMaxBits = cfg.str("ppl_max_bits", "0").toDouble,
          nbModel = cfg.strOpt("nb_model").map(ctx.dir),
          nbMinLogOdds = cfg.str("nb_min_log_odds", "0").toDouble,
          capPerSource = cfg.intOpt("cap_per_source"),
          redactPii = cfg.flag("redact_pii"))
        // `"tokenizer"` switches the terminal: unset = the q93 offset
        // rows; set (an id-emitting tokenizer name) = the q115 token-id
        // sequences — the pipeline ends at training-ready array<int>.
        // `"by_language": true` routes the mixture machinery on the
        // document's PREDICTED language (the q33 decision) instead of a
        // provenance stratum column — budgets/weights then key by
        // language code ('und' included only if budgeted).
        val id = cfg.str("id", "doc_id")
        val text = cfg.str("text", "text")
        val keyIdx = cfg.strOpt("key_index").map(ctx.dir)
        val byLang = cfg.flag("by_language")
        val out = (cfg.strOpt("tokenizer"), byLang) match {
          case (None, false) =>
            Curation.curate(ctx.spark, df, id, text,
              cfg.str("stratum", "source"), keyIdx, bench, conf)
          case (None, true) =>
            Curation.curateByLanguage(ctx.spark, df, id, text,
              keyIdx, bench, conf)
          case (Some(tk), false) =>
            Curation.curateTokens(ctx.spark, df, id, text,
              cfg.str("stratum", "source"), keyIdx, bench, conf,
              graft.functions.TokenCounters.encoderForName(tk))
          case (Some(tk), true) =>
            Curation.curateTokensByLanguage(ctx.spark, df, id, text,
              keyIdx, bench, conf,
              graft.functions.TokenCounters.encoderForName(tk))
        }
        sink(ctx, task)(out, lg, meter)
      }
  }

  /** `compact`: offline maintenance for the streaming sinks' append
    * layouts — not an ETL shape (no source→sink dataflow; it rewrites a
    * path in place with the [[IndexMaintenance]] rename-aside swap, so
    * it is schedulable like any task between stream runs). Two modes:
    *
    *  - `"mode": "output"` — [[IndexMaintenance.compactOutput]]: drop
    *    the at-least-once duplicate rows a replayed micro-batch appends
    *    (keep the most-excised row per `id`, default `doc_id`);
    *  - `"mode": "files"` (default) — [[IndexMaintenance.compact]]:
    *    rewrite to one file per partition dir (`part` = the layout's
    *    partition column: `cell`/`band`/`bucket`; omit for a flat dir,
    *    which compacts to `files`, default 1) — the small-file remedy
    *    for per-batch appended index layouts;
    *  - `"mode": "line_deltas"` — [[IndexMaintenance
    *    .consolidateLineDeltas]]: fold the line-count index's deltas
    *    behind the sink checkpoint's committed offset (`checkpoint` =
    *    that checkpoint dir) into `delta=base` — the
    *    directory-per-batch growth remedy;
    *  - `"mode": "latest"` — [[IndexMaintenance.compactLatest]]: the
    *    freshness stream's upsert — collapse the
    *    [[graft.streaming.Streams.latestFetchSink]] appended history to
    *    ONE newest row per `key` (default `canon_url`), `n_fetches`
    *    summed across the collapsed batches.
    */
  object CompactTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val cfg = task("compact")
      val path = ctx.dir(cfg.str("path"))
      cfg.str("mode", "files") match {
        case "output" =>
          graft.ops.IndexMaintenance.compactOutput(ctx.spark, path,
            cfg.str("id", "doc_id"))
          log.write(s"compacted output duplicates at $path")
        case "latest" =>
          graft.ops.IndexMaintenance.compactLatest(ctx.spark, path,
            cfg.str("key", "canon_url"))
          log.write(s"compacted to newest row per key at $path")
        case "files" =>
          graft.ops.IndexMaintenance.compact(ctx.spark, path,
            cfg.strOpt("part"), cfg.int("files", 1))
          log.write(s"compacted $path to " +
            s"${graft.ops.IndexMaintenance.dataFileCount(ctx.spark, path)} files")
        case "line_deltas" =>
          val folded = graft.ops.IndexMaintenance.consolidateLineDeltas(
            ctx.spark, path, ctx.dir(cfg.str("checkpoint")))
          log.write(s"folded ${folded.size} line-count deltas at $path" +
            (if (folded.isEmpty) "" else s": ${folded.mkString(",")}"))
        case m => throw new IllegalArgumentException(
          s"compact mode must be 'output', 'files', 'line_deltas' " +
            s"or 'latest': $m")
      }
    }
  }

  /** `rebuild`: re-derive a persisted vector index's geometry from its
    * CURRENT stored corpus ([[graft.ops.IndexMaintenance.rebuild]]) —
    * the maintenance action the drift audits (q111/q114) call for.
    * Schedulable like `compact` (run with the layout's sink stopped).
    */
  object RebuildTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val cfg = task("rebuild")
      val path = ctx.dir(cfg.str("path"))
      val meta = graft.ops.Similarity.readIndexMeta(ctx.spark, path)
      if (meta.get("layout").contains("text_dedup")) {
        // text layout: a reband from the persisted sets — optional
        // k/bands override retunes the screen off the q139 audit
        // without re-tokenizing
        graft.ops.IndexMaintenance.rebuildText(ctx.spark, path,
          k = cfg.strOpt("k").map(_.toInt),
          bands = cfg.strOpt("bands").map(_.toInt))
        log.write(s"rebanded text index at $path")
      } else {
        graft.ops.IndexMaintenance.rebuild(ctx.spark, path,
          cfg.str("id", "vec_id"), cfg.str("vec", "embedding"))
        log.write(s"rebuilt index geometry at $path")
      }
    }
  }

  /** `fit`: train a learned-filter model from the source corpus and
    * persist it as a frozen layout — the train-once step of the
    * fit → score lifecycle (the model layouts the `score` task and the
    * streaming gates consume). `method`:
    *
    *  - `"nb"` — [[graft.ops.TextAnalysis.buildNbModel]]: multinomial
    *    NB over 0/1 `label` (provenance weak labels);
    *  - `"ppl"` — [[graft.ops.TextAnalysis.buildBigramLm]]: add-k
    *    bigram LM over the reference slice (`train_where` optionally
    *    narrows the source to the trusted rows first);
    *  - `"dsir"` — [[graft.ops.Sampling.buildDsirModel]]: hashed-bucket
    *    target/pool models, the target slice named by `target_where`.
    *
    * Refreshing a model is a re-run of this task (overwrite semantics —
    * the frozen-geometry convention); running sinks re-read at start.
    */
  object FitTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit = {
      val cfg = task("fit")
      val (df0, _) = sourceDf(ctx, task)
      val df = cfg.strOpt("train_where").map(w => df0.where(expr(w)))
        .getOrElse(df0)
      val path = ctx.dir(cfg.str("model"))
      val k = cfg.str("smooth_k", "0.5").toDouble
      cfg.str("method") match {
        case "nb" => graft.ops.TextAnalysis.buildNbModel(ctx.spark, df,
          cfg.str("text", "text"), cfg.str("label", "label"), path, k)
        case "ppl" => graft.ops.TextAnalysis.buildBigramLm(ctx.spark, df,
          cfg.str("text", "text"), path, k)
        case "dsir" => graft.ops.Sampling.buildDsirModel(ctx.spark, df0,
          cfg.str("text", "text"), expr(cfg.str("target_where")), path,
          cfg.int("dim", 64), k)
        case "seed" => graft.ops.Similarity.buildLabelSeed(ctx.spark, df,
          cfg.str("id", "doc_id"), cfg.str("vec", "embedding"),
          cfg.str("label", "label"), path)
        case m => throw new IllegalArgumentException(s"unknown fit method: $m")
      }
      log.write(s"fitted ${cfg.str("method")} model at $path")
    }
  }

  /** `score`: the learned document filters as an ETL shape — rate every
    * source row with a quality/domain signal and emit the ROWS with the
    * score attached (rows the scorer cannot rate — null text, and for
    * `ppl` single-token docs — drop, the admission-gate convention).
    * `method`:
    *
    *  - `"nb"` — log-odds under a frozen [[FitTask]] `model`, or an
    *    in-task fit from `label` when no model path is given; optional
    *    `min_log_odds` admits only curated-like rows;
    *  - `"ppl"` — cross-entropy bits under a frozen `model` or an
    *    in-task reference fit from `train_where`; optional `max_bits`
    *    admission filter and/or `lo_bits`/`hi_bits` CCNet band label;
    *  - `"dsir"` — importance log-weights against a frozen `model` or
    *    the in-task `target_where` slice ([[Sampling.dsirLogWeights]]);
    *    with `n`, the Gumbel top-k resample ([[Sampling.dsirResample]],
    *    in-task fit only) — the output IS the selection; optional
    *    `min_log_w` admission filter;
    *  - `"knn"` — majority-vote label + confidence from the `k` nearest
    *    vectors of a frozen [[FitTask]] `"seed"` layout
    *    ([[graft.ops.Similarity.knnClassify]], seed broadcast);
    *    optional `min_vote_frac` confidence floor and `labels`
    *    allowlist.
    */
  object ScoreTask extends Task {
    def run(ctx: TaskContext, task: Node, log: TaskLog): Unit =
      Tasks.etl(ctx, task, log, "score")(sourceDf(ctx, task)) { (df, lg, meter) =>
        val cfg = task("score")
        val id = cfg.str("id", "doc_id")
        val text = cfg.str("text", "text")
        val k = cfg.str("smooth_k", "0.5").toDouble
        val ta = graft.ops.TextAnalysis
        val scored = cfg.str("method") match {
          case "nb" =>
            val base = cfg.strOpt("model") match {
              case Some(m) => ta.nbScoreWithModel(ctx.spark, df, id, text,
                ctx.dir(m))
              case None => ta.naiveBayesScore(df, id, text,
                cfg.str("label", "label"), k)
            }
            cfg.strOpt("min_log_odds")
              .map(t => base.where(col("log_odds") > t.toDouble))
              .getOrElse(base)
          case "ppl" =>
            val base = cfg.strOpt("model") match {
              case Some(m) => ta.bigramScoreWithModel(ctx.spark, df, id, text,
                ctx.dir(m))
              case None => ta.bigramLmScoreAgainst(
                df.where(expr(cfg.str("train_where"))), df, id, text, k)
            }
            val banded = (cfg.strOpt("lo_bits"), cfg.strOpt("hi_bits")) match {
              case (Some(lo), Some(hi)) => base.withColumn("bucket",
                ta.perplexityBand(lo.toDouble, hi.toDouble))
              case (None, None) => base
              case (lo, _) => throw new IllegalArgumentException(
                s"ppl band needs lo_bits and hi_bits: ${if (lo.isEmpty) "lo_bits" else "hi_bits"} is missing")
            }
            cfg.strOpt("max_bits")
              .map(t => banded.where(col("xent_bits") <= t.toDouble))
              .getOrElse(banded)
          case "dsir" =>
            val base = (cfg.strOpt("model"), cfg.intOpt("n")) match {
              case (Some(m), None) => Sampling.dsirScoreWithModel(ctx.spark,
                df, id, text, ctx.dir(m))
              case (Some(_), Some(_)) => throw new IllegalArgumentException(
                "dsir top-k resampling needs the whole pool's weights: " +
                  "use target_where (in-task fit), not a frozen model")
              case (None, n) =>
                val tgt = expr(cfg.str("target_where"))
                val dim = cfg.int("dim", 64)
                n.map(Sampling.dsirResample(df, id, text, tgt, _, dim, k))
                  .getOrElse(Sampling.dsirLogWeights(df, id, text, tgt, dim, k))
            }
            cfg.strOpt("min_log_w")
              .map(t => base.where(col("log_w") >= t.toDouble))
              .getOrElse(base)
          case "knn" =>
            val m = cfg.strOpt("model").getOrElse(
              throw new IllegalArgumentException(
                "knn scoring needs a frozen seed layout: fit method 'seed' first"))
            val meta = graft.ops.Similarity.readIndexMeta(ctx.spark, ctx.dir(m))
            require(meta.get("layout").contains("knn_seed"),
              s"not a knn_seed layout: $m (meta ${meta.get("layout")})")
            val seed = ctx.spark.read.parquet(s"${ctx.dir(m)}/seed")
            val base = graft.ops.Similarity.knnClassify(seed, df,
                "id", "vec", "label", id, cfg.str("vec", "embedding"),
                cfg.int("k", 10), excludeSelf = false,
                broadcastLabeled = true)
              .withColumnRenamed("q_id", "doc_id")
            val confident = cfg.strOpt("min_vote_frac")
              .map(t => base.where(col("vote_frac") >= t.toDouble))
              .getOrElse(base)
            val allow = cfg.strArr("labels").map(_.toInt)
            if (allow.isEmpty) confident
            else confident.where(col("pred_label").isin(allow: _*))
          case m => throw new IllegalArgumentException(s"unknown score method: $m")
        }
        val out = df.join(scored.withColumnRenamed("doc_id", id), Seq(id))
        sink(ctx, task)(out, lg, meter)
      }
  }
}
