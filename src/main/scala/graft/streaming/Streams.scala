package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming operators — the engine's streaming surface
  * (SURVEY.md §2.6). The reference's only "streaming" is the capture-folder
  * poller re-running whole batches (/root/reference/dasladen/processor.py:
  * 298-338); these are the Spark-native generalizations exercised by the
  * `events` fixture, each the streaming twin of an oracle-checked batch
  * query:
  *
  *  - tumbling/sliding window agg + watermark  ⇔ q20 (date_trunc hour)
  *  - session windows                          ⇔ q38 (gaps-and-islands)
  *
  * All functions take/return DataFrames so they compose with readStream
  * sources (file, rate, memory) and writeStream sinks unchanged. They also
  * run verbatim on BATCH frames — used by the specs to pin agreement with
  * the oracle-checked batch twins.
  */
object Streams {

  /** The one query starter every sink here shares: each micro-batch of
    * `stream` goes to `f` through `foreachBatch` (plain appends, so a
    * batch-built layout and streamed appends coexist — the parquet file
    * sink's `_spark_metadata` log would hide non-log files from later
    * reads), under `checkpoint`, in append mode.
    */
  private def batches(stream: DataFrame, checkpoint: String)
                     (f: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** The crash-window order every admitting sink keeps, in one place:
    * persist the screened batch (its consumers must not re-run the
    * screens), `emit` it to the output, and only then `advanceIndex`.
    * A failed emit never reaches the index append, so the index never
    * holds a key the output lacks; a crash after the output append
    * replays the batch against the not-yet-advanced index and re-emits
    * at-least-once rows, which [[graft.ops.IndexMaintenance
    * .compactOutput]] converges. Returns `emit`'s result once the index
    * advanced.
    */
  private def admit[A](screened: DataFrame)(emit: DataFrame => A)
                      (advanceIndex: DataFrame => Unit): A = {
    val admitted = screened.persist()
    try {
      val emitted = emit(admitted)
      advanceIndex(admitted)
      emitted
    } finally admitted.unpersist()
  }

  /** A cleaning sink's null-text rows: they carry nothing to clean, so
    * they pass through as (doc_id, null, 0, 0) under the sink's own
    * counter columns.
    */
  private def nullTextRows(batch: DataFrame, idCol: String, textCol: String,
                           units: String, cleaned: String): DataFrame =
    batch.where(col(textCol).isNull)
      .select(col(idCol).as("doc_id"),
        lit(null).cast("string").as("clean_text"),
        lit(0L).as(units), lit(0L).as(cleaned))

  /** File-source intake over a capture directory — streaming version of the
    * watcher (processor.py:330-338). `schema` is required: streaming file
    * sources do not infer.
    */
  def captureStream(spark: org.apache.spark.sql.SparkSession, dir: String,
                    format: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.format(format).schema(schema).load(dir)

  /** Stream–static enrichment: join a stream against a bounded dimension
    * table, broadcast so each micro-batch pays zero shuffle. The static
    * side is re-read per batch by Structured Streaming's contract, so a
    * slowly-changing dimension backed by a file source picks up updates
    * without restarting the query.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
             joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Streaming exact dedup — the streaming twin of [[graft.ops.Dedup
    * .exact]] for continuous ingestion (a training-data firehose keeps
    * only the first occurrence of each content key). State is bounded by
    * the watermark: `dropDuplicatesWithinWatermark` evicts keys once the
    * event-time watermark passes them, so state size ∝ key arrival rate ×
    * horizon, not the full history — the property that makes exact dedup
    * runnable on an unbounded stream.
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup screen — the streaming twin of the q29/q36
    * SimHash collapse: every document is reduced to its `bits`-bit SimHash
    * fingerprint and only the FIRST arrival of each fingerprint within the
    * watermark horizon survives. Near-identical variants (token noise
    * below the fingerprint's granularity) hash to the same key and are
    * dropped; state is watermark-bounded exactly like [[dedupStream]].
    * This is the cheap continuous screen a training-data firehose runs
    * before the heavier batch LSH/Jaccard passes. Null-text docs are
    * dropped, matching the batch operator's contract
    * ([[graft.ops.Dedup.simHash]]).
    */
  def nearDupScreen(docs: DataFrame, tsCol: String, watermark: String,
                    textCol: String, bits: Int = 16): DataFrame =
    docs
      .where(col(textCol).isNotNull)
      .withColumn("_fp",
        graft.functions.VectorFunctions.simHashBits(col(textCol), bits))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("_fp"))
      .drop("_fp")

  /** Streaming decontamination screen — the streaming twin of
    * [[graft.ops.Dedup.decontaminateBloom]]'s prefilter: drop any
    * arriving document that shares a w-gram shingle with the benchmark
    * Bloom filter. STATELESS (the filter is a driver-built reference
    * object shipped once), so it composes with any stream unchanged; as
    * with the batch form, Bloom false positives (rate `fpp`) may drop a
    * clean doc — the conservative direction for eval hygiene. Docs too
    * short to have a shingle pass (no overlap evidence).
    */
  def decontaminateScreen(docs: DataFrame, textCol: String,
                          bloom: org.apache.spark.util.sketch.BloomFilter,
                          w: Int = 3): DataFrame =
    docs.where(col(textCol).isNull || !exists(
      graft.functions.VectorFunctions.wordShingles(col(textCol), w),
      s => graft.functions.VectorFunctions.bloomMightContain(s, bloom)))

  /** Event-time tumbling-window aggregation with late-data handling.
    * Watermark bounds state: at 100 TB of events/day the state store holds
    * only windows within the watermark horizon.
    */
  def tumblingCounts(events: DataFrame, tsCol: String, windowLen: String,
                     watermark: String, keyCols: Seq[String] = Seq("event_type"),
                     valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), round(sum(col(valueCol)), 2).as("sv"))
      .select(col("window.start").as("h") +: keyCols.map(col) :+
        col("cnt") :+ col("sv"): _*)

  /** Session-window aggregation (native session_window) — the streaming
    * twin of [[graft.ops.Sessionize]]. Same 30-min default gap.
    */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String = "30 minutes", watermark: String = "1 hour",
                 valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), round(sum(col(valueCol)), 2).as("sval"))
      .select(col(keyCol), col("session_window.start").as("sess_start"),
        col("n_events"), col("sval"))

  /** Continuously maintain a persisted LSH index from an embedding
    * stream — the streaming twin of [[graft.ops.Similarity.buildLshIndex]]:
    * buckets are assigned in-flight (same deterministic plane matrix, so
    * batch-built and stream-appended rows land in the same partitions)
    * and appended as bucket-partitioned parquet. Probes
    * ([[graft.ops.Similarity.lshIndexTopK]]) see new vectors as soon as
    * their batch commits, still pruning to nBits+1 partition
    * directories. Appends run through `foreachBatch`, not the parquet
    * file sink, so a batch-built layout and streamed appends coexist
    * (the file sink's `_spark_metadata` log would hide non-log files
    * from later reads — see [[ivfIndexSink]]); replayed micro-batches
    * are at-least-once.
    */
  def lshIndexSink(stream: DataFrame, vecCol: String, path: String,
                   checkpoint: String, dim: Int,
                   nBits: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    batches(stream
      // same admission rule as the batch builders: a null/empty vector
      // would land in __HIVE_DEFAULT_PARTITION__, invisible to every probe
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .withColumn("bucket", concat(lit("b"),
        graft.functions.VectorFunctions.lshBucket(
          transform(col(vecCol), _.cast("double")), dim, nBits))),
      checkpoint) { (batch, _) =>
      batch.write.mode("append").partitionBy("bucket").parquet(s"$path/data")
    }

  /** Continuously maintain a persisted IVF index built by
    * [[graft.ops.Similarity.buildIvfIndex]]: the index's OWN centroid
    * table (bounded, one driver read at query start) rides into the
    * stream as a `NearestCentroid` projection, and rows append into the
    * same cell-partitioned layout batch probes already prune. Centroids
    * are frozen at sink start — the IVF contract: assignments must match
    * the stored table, so refinement means rebuild, not drift.
    *
    * Writes go through `foreachBatch` as plain partitioned appends, NOT
    * the parquet file sink: the file sink's `_spark_metadata` log makes
    * later batch reads of the directory see ONLY log-recorded files,
    * silently hiding the batch-built corpus (pinned by the mixed-layout
    * spec). Cost: a replayed micro-batch after crash recovery may append
    * twice (at-least-once) — acceptable for an ANN index, where a
    * duplicate vector only re-ranks as itself; rebuild to compact.
    */
  def ivfIndexSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                   vecCol: String, indexPath: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val centroids = graft.ops.Similarity.readCentroidMatrix(spark, indexPath)
    batches(stream
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .withColumn("cell", graft.functions.VectorFunctions.nearestCentroid(
        transform(col(vecCol), _.cast("double")), centroids)),
      checkpoint) { (batch, _) =>
      batch.write.mode("append").partitionBy("cell").parquet(s"$indexPath/data")
    }
  }

  /** Continuously maintain a persisted EXACT-dedup key index built by
    * [[graft.ops.Dedup.buildExactKeyIndex]] — admitted documents'
    * content hashes append to `keys/` and Bloom-union into the persisted
    * filter ([[graft.ops.Dedup.appendExactKeys]]), so later batches
    * screen against everything already admitted. Union is bitwise-or:
    * the no-false-negative contract survives appends; fpp degrades as
    * the key count outgrows the build-time sizing — rebuild to re-size.
    * Replays are harmless (appending a present key is a no-op for
    * screening semantics; `keys/` dups collapse in the verify
    * semi-join's distinct probe set).
    *
    * The typical loop pairs this with
    * [[graft.ops.Dedup.exactDedupAgainstIndex]] in the same
    * `foreachBatch`: screen the batch, write survivors downstream, admit
    * their keys — but the sink stands alone when admission is
    * unconditional.
    */
  def exactKeyIndexSink(spark: org.apache.spark.sql.SparkSession,
                        stream: DataFrame, textCol: String, path: String,
                        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batches(stream, checkpoint) { (batch, _) =>
      graft.ops.Dedup.appendExactKeys(spark, batch, textCol, path)
    }

  /** Streaming WEB-CORPUS INTAKE — [[graft.ops.Web.intake]]'s crawl-feed
    * form, per micro-batch:
    *
    *  1. extract + Gopher gate + normalize + WITHIN-batch exact dedup
    *     (the q148 chain: one map-side codegen projection, one shuffle;
    *     `n_dupes` counts this batch's collapse);
    *  2. representatives whose normalized text the STANDING corpus
    *     already holds drop ([[graft.ops.Dedup.exactDedupAgainstIndex]]
    *     over a [[graft.ops.Dedup.buildExactKeyIndex]] layout — crawls
    *     re-fetch the same page across batches, not just inside one);
    *  3. survivors append to `outPath` as (doc_id, norm_text, n_dupes),
    *     THEN their keys admit into the index — the
    *     [[curationIngestSink]] crash-window order: a replay of an
    *     interrupted batch can re-admit rows (at-least-once output,
    *     compacted downstream by doc_id via [[graft.ops
    *     .IndexMaintenance.compactOutput]]), but the index can never
    *     hold keys the output doesn't carry, so no future batch is
    *     silently screened by a row that was never emitted.
    *
    * The key layout must exist (first ingest: `buildExactKeyIndex` over
    * the empty or seed corpus) — same precondition as
    * [[exactKeyIndexSink]]. For an empty/tiny seed, PASS
    * `expectedKeys` to the build: per-batch Bloom deltas inherit the
    * build's sizing, so a filter sized to the seed saturates within a
    * few appends and every probe degrades to the verify join until a
    * rebuild. [[graft.ops.Dedup.keyIndexCard]]'s `utilization` column
    * is the live degradation reading (rebuild past ~1.0).
    */
  def webIntakeSink(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame, idCol: String, htmlCol: String,
                    outPath: String, keyIndexPath: String, checkpoint: String,
                    th: graft.ops.TextAnalysis.GopherThresholds =
                      graft.ops.TextAnalysis.GopherThresholds(),
                    lowercase: Boolean = false,
                    redactPii: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches(stream, checkpoint) { (batch, _) =>
      intakeBatch(spark, batch, idCol, htmlCol, outPath, keyIndexPath,
        th, lowercase, redactPii)
    }

  /** One intake micro-batch — shared by [[webIntakeSink]] (row stream)
    * and [[warcIngestSink]] (file-arrival stream).
    */
  private def intakeBatch(spark: org.apache.spark.sql.SparkSession,
                          batch: DataFrame, idCol: String, htmlCol: String,
                          outPath: String, keyIndexPath: String,
                          th: graft.ops.TextAnalysis.GopherThresholds,
                          lowercase: Boolean,
                          redactPii: Boolean = false): Unit = {
    val reps = graft.ops.Web.intake(batch, idCol, htmlCol, th, lowercase,
      redactPii)
    admit(graft.ops.Dedup.exactDedupAgainstIndex(
        spark, reps, "norm_text", keyIndexPath))(
      _.write.mode("append").parquet(outPath))(
      graft.ops.Dedup.appendExactKeys(spark, _, "norm_text", keyIndexPath))
  }

  /** CRAWL-FILE streaming intake — [[webIntakeSink]] fed by a directory
    * where crawl shards LAND (the capture-intake loop at crawl scale):
    * Spark's checkpointed file source streams NEW `.warc`/`.warc.gz`
    * PATHS per micro-batch — path column only, so the binaryFile scan
    * never materializes file bytes as rows (column pruning reads the
    * listing, not the files) — and each batch's files stream through
    * [[graft.sources.WarcReader.responses]] (one task per file,
    * bounded-buffer record parse) into the q148 intake + cross-batch
    * exact screen. The per-batch path collect is bounded by the
    * source's files-per-trigger, never by file SIZE or record count.
    *
    * Replay contract: the file source's checkpoint makes the file list
    * per batch exactly-once; a replayed batch re-reads the same files
    * deterministically, so output re-appends are byte-identical (the
    * compactOutput contract) and key re-admission lands in the
    * anti-join-idempotent key layout — [[webIntakeSink]]'s crash-window
    * argument verbatim.
    *
    * `digestIndexPath` (a [[graft.ops.Dedup.buildKeyIndex]] layout over
    * `WARC-Payload-Digest` values) arms the PRE-DECODE digest rung:
    * content-type gate → within-batch digest dedup ([[graft.sources
    * .WarcReader.dedupByDigest]]) → standing digest screen, all before
    * any charset decode — a page the crawler re-fetched byte-identical
    * in ANY batch costs one Bloom probe instead of a transcode + the
    * whole intake chain. Digest admission runs LAST (after the output
    * append and the text-key admission), so every crash window replays
    * into the still-committed text-key gate and converges exactly as
    * without the rung.
    */
  def warcIngestSink(spark: org.apache.spark.sql.SparkSession,
                     dir: String, outPath: String, keyIndexPath: String,
                     checkpoint: String,
                     th: graft.ops.TextAnalysis.GopherThresholds =
                       graft.ops.TextAnalysis.GopherThresholds(),
                     lowercase: Boolean = false,
                     pathGlob: String = "*.warc*",
                     digestIndexPath: Option[String] = None,
                     robotsGate: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    shardBatches(spark, dir, pathGlob, checkpoint) { (paths, _) =>
      val (decoded, digestAdmitted) =
        decodeWarcBatch(spark, paths, digestIndexPath, robotsGate)
      try {
        intakeBatch(spark, decoded, "record_id", "html", outPath,
          keyIndexPath, th, lowercase)
        // digest admission LAST — the same keys-last replay
        // argument as intakeBatch's text keys: a crash before this
        // append replays the batch, the digest screen re-passes
        // it, and the TEXT-key gate (already committed) screens
        // the output, so nothing duplicates and the digest append
        // completes on the replay
        digestAdmitted.foreach(da => graft.ops.Dedup.appendKeys(
          spark, da, "payload_digest", digestIndexPath.get))
      } finally digestAdmitted.foreach(_.unpersist())
    }

  /** [[batches]] over [[warcPathStream]]: each micro-batch's new shard
    * paths — a driver collect bounded by the source's files-per-trigger,
    * never by file size or record count — with batches that landed
    * nothing skipped.
    */
  private def shardBatches(spark: org.apache.spark.sql.SparkSession,
                           dir: String, pathGlob: String, checkpoint: String)
                          (f: (Seq[String], Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches(warcPathStream(spark, dir, pathGlob), checkpoint) {
      (batch, batchId) =>
        val paths = batch.select("path")
          .as(org.apache.spark.sql.Encoders.STRING).collect()
        if (paths.nonEmpty) f(paths.toSeq, batchId)
    }

  /** The checkpointed file-arrival listing over a crawl landing dir:
    * NEW warc paths per micro-batch, path column only. The format's
    * fixed schema is declared (streaming sources cannot infer), and
    * only `path` is ever SELECTED, so the binaryFile scan reads the
    * LISTING — file bytes never materialize as rows. Shared by
    * [[warcIngestSink]] and [[crawlTokensSink]].
    */
  private def warcPathStream(spark: org.apache.spark.sql.SparkSession,
                             dir: String, pathGlob: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", pathGlob)
      .load(dir)
      .select(col("path"))

  /** One batch's decoded responses off an explicit path list (via
    * [[graft.sources.WarcReader.readMany]] — the raw strings would hit
    * Hadoop's comma-split + glob grammar), with the digest rung in
    * front when armed: content gate → within-batch digest dedup →
    * standing digest screen, all BEFORE charset decode — a re-fetched
    * page (same bytes, any batch) costs one Bloom probe, never a
    * transcode. Returns (decoded responses, the PERSISTED pre-decode
    * digest-admitted frame whose keys the caller appends AFTER its
    * output commits — and unpersists).
    */
  private def decodeWarcBatch(spark: org.apache.spark.sql.SparkSession,
                              paths: Seq[String],
                              digestIndexPath: Option[String],
                              robotsGate: Boolean = false)
      : (DataFrame, Option[DataFrame]) = {
    val recs = graft.sources.WarcReader.readMany(spark, paths)
    digestIndexPath match {
      case None =>
        (graft.sources.WarcReader.responses(recs, robotsGate = robotsGate),
          None)
      case Some(dp) =>
        val gated = recs.where(graft.sources.WarcReader
          .textish(col("http_content_type")))
        // persisted: two consumers (decode→intake, digest admission)
        val admitted = graft.ops.Dedup.dedupAgainstKeyIndex(spark,
          graft.sources.WarcReader.dedupByDigest(gated),
          "payload_digest", dp).persist()
        // the robots gate applies to what flows toward TRAINING, not to
        // the digest admissions: a noindex page's digest still enters
        // the seen-bytes index, so its re-fetches stay one Bloom probe
        // (the index records what was crawled, never what trains)
        val decoded = admitted.select(col("url"), col("warc_date"),
          col("record_id"), col("http_status"), col("http_content_type"),
          col("http_robots"),
          graft.functions.VectorFunctions.decodeCharset(
            col("payload"), col("http_content_type")).as("html"))
        ((if (robotsGate) graft.ops.Web.robotsGate(decoded, "html")
          else decoded).drop("http_robots"),
          Some(admitted))
    }
  }

  /** CRAWL FRESHNESS stream — [[graft.sources.WarcReader.latestByUrl]]
    * fed by the landing-dir listing: each micro-batch's new shards
    * parse, gate, and collapse to their per-canonical-url NEWEST fetch
    * (decoded), which appends to `outPath`. Cross-batch freshness is
    * upsert-by-compaction: a later batch's re-fetch of a known url
    * APPENDS (never screens — newer content must replace, not drop),
    * and [[graft.ops.IndexMaintenance.compactLatest]] collapses the
    * history to the global newest per url, summing `n_fetches` across
    * the collapsed batches (each appended row's count covers only its
    * own micro-batch; the post-compaction column is the cross-batch
    * total the `latestByUrl` contract describes). Replays re-append
    * byte-identical rows; compaction drops them on (key, warc_date,
    * record_id) before summing — so every crash window converges with
    * zero index state (this sink keeps none).
    */
  def latestFetchSink(spark: org.apache.spark.sql.SparkSession,
                      dir: String, outPath: String, checkpoint: String,
                      pathGlob: String = "*.warc*")
      : org.apache.spark.sql.streaming.StreamingQuery =
    shardBatches(spark, dir, pathGlob, checkpoint) { (paths, _) =>
      graft.sources.WarcReader.latestByUrl(
          graft.sources.WarcReader.readMany(spark, paths))
        .write.mode("append").parquet(outPath)
    }

  /** CRAWL → TRAINING-IDS streaming terminal — the q157 composition's
    * streaming twin, rooted at the same file-arrival listing as
    * [[warcIngestSink]]: per micro-batch,
    *
    *  1. decode the batch's new shards ([[decodeWarcBatch]], digest
    *     rung optional);
    *  2. the q148 intake (extract → Gopher gate → normalize →
    *     within-batch exact dedup) + the cross-batch exact screen over
    *     `keyIndexPath`;
    *  3. a `source` key per admitted page — `sourceKey` over the
    *     decoded frame; the default is the URL's registered domain,
    *     the stratum a crawl actually budgets by. `byLanguage = true`
    *     instead routes on the q33 language DECISION over the admitted
    *     page's normalized text ([[graft.ops.Curation
    *     .curateTokensByLanguage]] — budgets key by language code, the
    *     q164 streaming twin; `sourceKey` is then unused);
    *  4. the [[graft.ops.Curation.curateTokens]] stages over the
    *     admitted batch (clean / excise / decontaminate under `cfg`,
    *     token-budget sampling in the ENCODER's currency, packTokens)
    *     — the batch terminal's own code, batch-scoped;
    *  5. the packed sequences append to `outPath` with a `batch_id`
    *     column, THEN text keys admit, THEN digests (when armed).
    *
    * Sequences are packed PER BATCH (seq ids dense within (batch_id,
    * source)) — budgets and packing are corpus-global in the batch
    * terminal, so the streaming contract is per-ingest-batch packing,
    * exactly the divergence [[packTokensStream]] documents for the
    * continuous form. A single-batch feed reproduces the batch
    * composition byte-for-byte (spec-pinned).
    *
    * Replay: deterministic stages under frozen standing state, output
    * before admissions — every crash window converges ([[webIntakeSink]]
    * argument): a replay before the text-key append recomputes the
    * identical sequences (duplicates collapse downstream on (batch_id,
    * source, seq_id) — replayed rows are byte-identical); a replay
    * after it screens to an empty batch, appends nothing, and
    * completes the remaining admissions.
    */
  def crawlTokensSink(spark: org.apache.spark.sql.SparkSession,
                      dir: String, outPath: String, keyIndexPath: String,
                      checkpoint: String,
                      encoder: graft.functions.TokenEncoder,
                      cfg: graft.ops.Curation.Config,
                      th: graft.ops.TextAnalysis.GopherThresholds =
                        graft.ops.TextAnalysis.GopherThresholds(),
                      lowercase: Boolean = false,
                      pathGlob: String = "*.warc*",
                      digestIndexPath: Option[String] = None,
                      sourceKey: org.apache.spark.sql.Column =
                        graft.ops.Web.urlDomain(col("url")),
                      robotsGate: Boolean = false,
                      byLanguage: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    shardBatches(spark, dir, pathGlob, checkpoint) { (paths, batchId) =>
      val (decoded, digestAdmitted) =
        decodeWarcBatch(spark, paths, digestIndexPath, robotsGate)
      try {
        val pages = decoded.select(col("record_id").as("doc_id"),
          sourceKey.as("source"), col("html"))
        val reps = graft.ops.Web.intake(pages, "doc_id", "html",
          th, lowercase)
        admit(graft.ops.Dedup.exactDedupAgainstIndex(
            spark, reps, "norm_text", keyIndexPath)) { admitted =>
          if (!admitted.isEmpty) {
            // stratum: the q164 LANGUAGE routing (the decision over
            // the admitted page's normalized text — one map-side
            // tokenProfile pass, no join), or the provenance
            // source join-back: a batch-bounded 2-column broadcast
            // (column pruning cuts the decode out of this branch —
            // the domain needs only the url)
            val packed =
              if (byLanguage)
                graft.ops.Curation.curateTokensByLanguage(spark,
                  admitted, "doc_id", "norm_text",
                  keyIndexPath = None, benchmark = None, cfg, encoder)
              else
                graft.ops.Curation.curateTokens(spark,
                  admitted.join(
                    broadcast(pages.select(col("doc_id"), col("source"))),
                    Seq("doc_id")),
                  "doc_id", "norm_text", "source",
                  keyIndexPath = None, benchmark = None, cfg, encoder)
            packed
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(outPath)
          }
        } { admitted =>
          graft.ops.Dedup.appendExactKeys(spark, admitted,
            "norm_text", keyIndexPath)
          digestAdmitted.foreach(da => graft.ops.Dedup.appendKeys(
            spark, da, "payload_digest", digestIndexPath.get))
        }
      } finally digestAdmitted.foreach(_.unpersist())
    }

  /** Streaming SPAN-EXCISION gate over a [[graft.ops.Dedup
    * .buildGramIndex]] layout — the excision family's streaming end
    * (beside the exact-key, lexical-band and semantic-cell gates), per
    * micro-batch:
    *
    *  0. within-batch EXACT dedup (min-id representative per content
    *     hash — catches identical rows of every length; span excision
    *     cannot see duplicate docs shorter than w);
    *  1. WITHIN-batch excision ([[graft.ops.Dedup
    *     .exciseDupSpans]] — a dump self-duplicates, the [[ingestGate]]
    *     stage-1 lesson): a span shared inside the batch survives in
    *     its lowest-id row only;
    *  2. every span the standing corpus already contains is excised
    *     from the survivors ([[graft.ops.Dedup.exciseAgainstIndex]]:
    *     Bloom-cleared in the scan, exactly verified, corpus grams
    *     only SCANNED — never shuffled; docs shorter than w screen by
    *     full-text identity);
    *  3. rows excised to EMPTINESS drop — a doc that is entirely
    *     already-seen spans contributes nothing. Rows whose text had no
    *     words to begin with (whitespace-only, n_words = 0) are NOT
    *     "excised to emptiness": nothing was removed from them, so they
    *     pass through as (id, "", 0, 0) — the same admit-what-carried-
    *     nothing contract as the null rows below;
    *  4. survivors append to `outPath` as (doc_id, clean_text,
    *     n_words, n_excised) with n_excised totalled across both
    *     passes; null-text rows pass through as (doc_id, null, 0, 0) —
    *     the [[ingestGate]] admit-null contract, they carry nothing to
    *     excise;
    *  5. the batch's ORIGINAL text grams AND the emitted clean_text's
    *     grams admit into the index ([[graft.ops.Dedup.appendGrams]],
    *     one duplicate-free append over the union). Original, because
    *     the corpus has SEEN those spans (batch N+1 must excise against
    *     everything batch N carried); emitted, because excision creates
    *     SEAM w-grams (a removed span's neighbors become adjacent) that
    *     now exist in `outPath` — indexing them (and the full-text hash
    *     of docs excised below w words) is what makes replay converge
    *     for docs the within-batch pass rewrote.
    *
    * REPLAY contract (a crash between 4 and 5 replays the batch against
    * an index missing its grams — the usual at-least-once window):
    * after 5 has committed, a replayed doc whose emitted text's every
    * word is covered by an indexed gram comes back empty and drops —
    * exact convergence, which holds for all docs unchanged by
    * within-batch excision and for the common rewritten shapes. The
    * residual: a rewritten doc whose replay leaves words standing
    * re-appends a row under the SAME doc_id whose clean_text is a
    * (possibly equal) subsequence of the first append — the corpus
    * grams matched on the first run always match again, so a replay can
    * only excise MORE. Downstream compaction therefore keys on doc_id
    * (keep any; they differ only by further excision), not on exact
    * content equality.
    */
  def gramExciseSink(spark: org.apache.spark.sql.SparkSession,
                     stream: DataFrame, idCol: String, textCol: String,
                     indexPath: String, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // bounded driver read at sink start — w is fixed at index build,
    // appends never change it, so one read serves every batch
    val w = layoutParam(spark, indexPath, "w")
    batches(stream, checkpoint) { (batch, _) =>
      // stage 0, the ingestGate lesson: min-id representative per
      // content hash — catches identical rows of EVERY length (span
      // excision cannot see duplicate docs shorter than w)
      val withText = batch.where(col(textCol).isNotNull)
      val reps = graft.ops.Dedup.exact(withText, idCol, textCol)
        .select(col(idCol))
      val deduped = withText.join(broadcast(reps), Seq(idCol), "left_semi")
      admit(gramScreen(spark, deduped, idCol, textCol, indexPath, w)) {
        _.unionByName(nullTextRows(batch, idCol, textCol, "n_words", "n_excised"))
          .write.mode("append").parquet(outPath)
      } { emitted =>
        // step 5: original grams ∪ emitted-text grams, one append
        graft.ops.Dedup.appendGrams(spark,
          withText.select(col(textCol).as("_gram_text"))
            .unionByName(emitted.select(col("clean_text").as("_gram_text"))),
          "_gram_text", indexPath)
      }
    }
  }

  /** The excision family's two-pass screen over non-null-text rows,
    * shared by [[gramExciseSink]] and [[curationIngestSink]]'s rung 2:
    * within-batch span excision at width `w`
    * ([[graft.ops.Dedup.exciseDupSpans]]), then standing-gram excision
    * against `indexPath` ([[graft.ops.Dedup.exciseAgainstIndex]]).
    * Output (doc_id, clean_text, n_words, n_excised) with n_excised
    * summed over both passes; rows excised to emptiness drop. "Excised
    * to emptiness" requires something to have been excisABLE: a
    * whitespace-only row (n_words = 0) passes through like the nulls,
    * it carried nothing to excise.
    */
  private def gramScreen(spark: org.apache.spark.sql.SparkSession,
                         df: DataFrame, idCol: String, textCol: String,
                         indexPath: String, w: Int): DataFrame = {
    val withinBatch = graft.ops.Dedup.exciseDupSpans(df, idCol, textCol, w)
    graft.ops.Dedup
      .exciseAgainstIndex(spark,
        withinBatch.select(col("doc_id"), col("clean_text").as("text")),
        "doc_id", "text", indexPath)
      .join(withinBatch.select(col("doc_id"), col("n_words").as("_nw"),
        col("n_excised").as("_ex1")), Seq("doc_id"))
      .select(col("doc_id"), col("clean_text"),
        col("_nw").as("n_words"),
        (col("_ex1") + col("n_excised")).as("n_excised"))
      .where(col("clean_text") =!= "" || col("n_words") === 0)
  }

  /** One bounded driver read of an integer build parameter (`w`,
    * `min_doc_freq`) from a layout's `params` table — fixed at index
    * build, appends never change it, so one read at sink start serves
    * every batch.
    */
  private def layoutParam(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, name: String): Int =
    spark.read.parquet(s"$indexPath/params")
      .select(col(name)).head().getInt(0)

  /** Streaming boilerplate-line removal — the [[graft.ops.Dedup
    * .buildLineIndex]] count layout's sink end, completing the family's
    * streaming symmetry (keys ⇄ bands ⇄ cells ⇄ grams ⇄ line counts).
    * Survivors append as (doc_id, clean_text, n_lines, n_removed); see
    * [[unitRemovalSink]].
    */
  def lineRemovalSink(spark: org.apache.spark.sql.SparkSession,
                      stream: DataFrame, idCol: String, textCol: String,
                      indexPath: String, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    unitRemovalSink(spark, stream, idCol, textCol, indexPath, outPath,
      checkpoint, graft.ops.Dedup.Lines)

  /** [[lineRemovalSink]] at the PARAGRAPH unit, against a
    * [[graft.ops.Dedup.buildParagraphIndex]] layout — the streaming rung
    * of the q152 rule (cookie banners / footers / share blocks repeat as
    * paragraphs; the line rule only shreds them when reflow aligns).
    * Survivors append as (doc_id, clean_text, n_paras, n_removed); see
    * [[unitRemovalSink]].
    */
  def paragraphRemovalSink(spark: org.apache.spark.sql.SparkSession,
                           stream: DataFrame, idCol: String, textCol: String,
                           indexPath: String, outPath: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    unitRemovalSink(spark, stream, idCol, textCol, indexPath, outPath,
      checkpoint, graft.ops.Dedup.Paras)

  /** The one micro-batch of [[lineRemovalSink]] and
    * [[paragraphRemovalSink]] at `unit`:
    *
    *  1-2. [[unitScreen]]: within-batch removal at the LAYOUT's
    *     threshold (a batch can carry its own chrome), then the standing
    *     probe with `excludeToken = b<batchId>` — a replaying batch that
    *     already appended its counts sees EXACTLY the standing state of
    *     its first run;
    *  3. survivors append to `outPath` BEFORE the index advances, with
    *     n_removed totalled across both passes; rows whose every unit
    *     was removed drop (all-boilerplate — nothing to train on), rows
    *     empty WITHOUT removal pass through, and null-text rows pass as
    *     (doc_id, null, 0, 0) — the [[ingestGate]] admit-null contract;
    *  4. the batch's ORIGINAL unit counts admit under token
    *     `b<batchId>` ([[graft.ops.Dedup.appendLineCounts]] /
    *     [[graft.ops.Dedup.appendParagraphCounts]]) — an OVERWRITE of
    *     that token's delta, so the append itself is idempotent.
    *
    * REPLAY contract — EXACT convergence, no residual: unlike the
    * set-valued sinks (whose replays probe an index already holding
    * their own admissions and must argue their way back to the same
    * output), the count layout gives replays the first run's exact
    * inputs by construction — step 2's exclusion pins the standing
    * counts, steps 1/2 are deterministic, and step 4 replaces rather
    * than accumulates. The only at-least-once artifact is `outPath`
    * re-appending BYTE-IDENTICAL rows; [[graft.ops.IndexMaintenance
    * .compactOutput]] keyed on doc_id removes them (keep-any is safe —
    * they are equal).
    *
    * Frequency banning is inherently retrospective: a chrome unit
    * arriving one-per-batch bans only once its summed df crosses the
    * threshold — earlier carriers passed (the stream cannot know the
    * future). Closed corpora wanting the global answer run the batch
    * op (q97, q152) instead.
    */
  private def unitRemovalSink(
      spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
      idCol: String, textCol: String, indexPath: String, outPath: String,
      checkpoint: String, unit: graft.ops.Dedup.TextUnit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val minDocFreq = layoutParam(spark, indexPath, "min_doc_freq")
    batches(stream, checkpoint) { (batch, batchId) =>
      val token = s"b$batchId"
      val withText = batch.where(col(textCol).isNotNull)
      admit(unitScreen(spark, unit, withText, idCol, textCol, indexPath,
          token, minDocFreq)) {
        _.unionByName(nullTextRows(batch, idCol, textCol, unit.counter,
            "n_removed"))
          .write.mode("append").parquet(outPath)
      }(_ => graft.ops.Dedup.appendCounts(unit, withText, idCol, textCol,
        indexPath, token))
    }
  }

  /** The removal family's two-pass screen over non-null-text rows, shared
    * by [[unitRemovalSink]] and [[curationIngestSink]]'s line rung:
    * within-batch removal at `minDocFreq` (the layout's threshold), then
    * the standing probe of `indexPath` excluding `token`. Output
    * (doc_id, clean_text, unit.counter, n_removed) with n_removed
    * summed over both passes; a row emptied BY removal
    * (all-boilerplate) drops, one empty with nothing removed was empty
    * on arrival and stays.
    */
  private def unitScreen(spark: org.apache.spark.sql.SparkSession,
                         unit: graft.ops.Dedup.TextUnit, df: DataFrame,
                         idCol: String, textCol: String, indexPath: String,
                         token: String, minDocFreq: Int): DataFrame = {
    val withinBatch = graft.ops.Dedup.removeFrequent(unit, df, idCol,
      textCol, minDocFreq)
    graft.ops.Dedup.removeAgainstIndex(unit, spark,
        withinBatch.select(col("doc_id"), col("clean_text").as("text")),
        "doc_id", "text", indexPath, Some(token), Some(minDocFreq))
      .join(withinBatch.select(col("doc_id"), col(unit.counter).as("_nu"),
        col("n_removed").as("_rm1")), Seq("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("_nu").as(unit.counter),
        (col("_rm1") + col("n_removed")).as("n_removed"))
      .where(col("clean_text") =!= "" || col("n_removed") === 0)
  }

  /** The COMPOSED streaming ingest — [[ingestGate]] →
    * [[gramExciseSink]] → [[semanticGateSink]] chained inside ONE
    * `foreachBatch` (the streaming analog of the batch
    * [[graft.ops.Curation.curate]] pipeline): each micro-batch of
    * (id, text, vector) rows runs the full dedup ladder — exact keys,
    * lexical spans, semantic cells — against THREE standing indexes,
    * and the survivors land in `outPath` with all three indexes
    * advanced, so batch N+1 screens against everything batch N
    * admitted at every rung. Per micro-batch:
    *
    *  1. the [[ingestGate]] screens: within-batch exact dedup (min-id
    *     rep), optional quality floor, exact-key screen against
    *     `keyIndexPath` (Bloom in the scan, corpus keys never
    *     shuffled);
    *  1L. (with `pplModelPath`/`nbModelPath`) the LEARNED screens —
    *     the batch [[graft.ops.Curation.Config]] pplModel/nbModel
    *     rungs' streaming twins: frozen-model semi-joins dropping what
    *     the reference LM rates above `pplMaxBits` (or cannot rate)
    *     and what the NB classifier scores at or under `nbMinLogOdds`.
    *     Deterministic pure filters under frozen layouts, so every
    *     crash window's replay recomputes them byte-identically;
    *  1b. (with `lineIndexPath`) the [[lineRemovalSink]] passes over
    *     the rung-1 survivors, in the batch-[[graft.ops.Curation
    *     .curate]] order (boilerplate chrome first, verbatim spans
    *     second — CCNet order): within-batch
    *     [[graft.ops.Dedup.removeFrequentLines]] at the layout's
    *     threshold, then the standing probe with
    *     `excludeToken = b<batchId>` (a replaying batch that already
    *     appended its counts sees exactly the standing state of its
    *     first run); rows emptied BY removal (all-boilerplate) drop,
    *     kept newlines re-normalize to the single-space convention the
    *     word-level rungs split on;
    *  2. the [[gramExciseSink]] excisions over the admitted rows:
    *     within-batch span excision, then standing-gram excision
    *     against `gramIndexPath`; rows excised to emptiness drop,
    *     whitespace-only rows pass through;
    *  3. the [[semanticGateSink]] screens over the SURVIVORS' vectors
    *     against `ivfIndexPath`: frozen-centroid cell assignment,
    *     greedy-by-id within-batch screen, standing screen restricted
    *     to the batch's own cells (directory-pruned) — a row whose
    *     vector matches at cosine ≥ `tau` drops even though its text
    *     was novel (the paraphrase case, which is the point of the
    *     third rung); rows with NO vector pass the rung (absence of
    *     a vector is not evidence of duplication — the q81 rule);
    *  4. survivors append to `outPath` as (doc_id, clean_text,
    *     n_words, n_excised), null-text rows as (id, null, 0, 0); then
    *     the indexes admit in REPLAY order — vectors, grams, exact
    *     keys LAST. The key append is the rung-1 replay gate: were it
    *     first (and a crash followed it), a replayed batch would
    *     screen out entirely at rung 1 and the later appends would
    *     never run. With keys last, every crash window before the key
    *     append leaves a batch the replay re-admits at rung 1 and
    *     re-drives forward. What admits: vectors of the emitted
    *     survivors into the cell layout; grams of original ∪ the
    *     STAGE-2 survivors' (`screened`) emitted text — stage-2 not
    *     stage-3, both because a row rung 3 dropped was still SEEN
    *     (the same contract that admits every stage-1 survivor's key)
    *     and because `screened` is what a vectors-committed replay
    *     recomputes byte-identically (below); line COUNTS of every
    *     stage-1 survivor's original text under token `b<batchId>`
    *     (an OVERWRITE of that token's delta — idempotent by layout,
    *     so its position in the chain needs no ordering argument
    *     beyond sitting before the key gate); keys of every stage-1
    *     survivor.
    *
    * Replay: every standing index is at worst BEHIND the output, and
    * EVERY window converges. The line rung changes nothing in the
    * argument: its probe pins the standing counts via the `b<batchId>`
    * exclusion (committed or not, a replay sees the first run's view),
    * its within-batch pass is deterministic over the identically
    * re-admitted rung-1 survivors, and its count append REPLACES its
    * own token's delta — so the rung recomputes byte-identically in
    * every window below. The set-index windows — (a) crash before the vector append:
    * nothing advanced, the replay recomputes identically and re-emits
    * same-id duplicate rows (the [[graft.ops.IndexMaintenance
    * .compactOutput]] contract), then all appends complete; (b) crash
    * after vectors, before grams: the replay re-admits at rung 1 and
    * recomputes `screened` identically (grams unchanged), rung 3 now
    * drops every vector-carrying survivor against its OWN admitted
    * vector at cosine 1 — so no duplicate vector append, only
    * vectorless rows re-emit, and the gram append (sourced from the
    * identically-recomputed `screened`) lands exactly what the first
    * attempt would have; (c) crash after grams, before keys: the
    * replay's rung 2 excises every re-admitted row to emptiness
    * (original ∪ emitted grams are indexed — and a doc shorter than w
    * is covered too, because the gram set carries the FULL-TEXT hash
    * of sub-w docs as their exact-identity screen, so even a
    * vectorless short doc excises away instead of re-emitting;
    * CurationCrashSpec pins this with doc 19), nothing re-emits, the
    * gram re-append is duplicate-free and the key append completes.
    * Fault-injected per-window in CurationCrashSpec via [[FaultyFs]].
    *
    * The IVF layout's own column names (`ivfIdCol`/`ivfVecCol`,
    * [[graft.ops.Similarity.buildIvfIndex]]'s arguments) are
    * parameters because admissions append into the EXISTING
    * cell-partitioned files — mismatched names would fork the schema.
    *
    * `metrics` attaches the per-rung admission ladder ([[RungMetrics]]):
    * one per-task-log line per completed batch with rows_in / keys /
    * lines / grams / semantic / out_rows / vec_rows. Zero cost when
    * absent; cache scans of this batch's persisted frames when present.
    */
  def curationIngestSink(spark: org.apache.spark.sql.SparkSession,
                         stream: DataFrame, idCol: String, textCol: String,
                         vecCol: String, keyIndexPath: String,
                         gramIndexPath: String, ivfIndexPath: String,
                         outPath: String, checkpoint: String,
                         minQuality: Double = 0.0, tau: Double = 0.4,
                         ivfIdCol: String = "vec_id",
                         ivfVecCol: String = "embedding",
                         lineIndexPath: Option[String] = None,
                         metrics: Option[RungMetrics] = None,
                         pplModelPath: Option[String] = None,
                         pplMaxBits: Double = 0.0,
                         nbModelPath: Option[String] = None,
                         nbMinLogOdds: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // bounded driver reads at sink start — the semanticGateSink
    // contract (centroids are frozen), the gram width, and the line
    // layout's threshold (all fixed at index build; appends never
    // change any of them)
    val centroids = graft.ops.Similarity.readCentroidMatrix(spark, ivfIndexPath)
    val w = layoutParam(spark, gramIndexPath, "w")
    val lineMdf = lineIndexPath.map(layoutParam(spark, _, "min_doc_freq"))
    // learned-screen rungs (the batch Config.pplModel/nbModel twins):
    // each model loads ONCE at sink start — a wrong layout fails here,
    // not at first batch, and no batch re-reads the meta. Deterministic
    // pure filters under frozen models, so every crash window's replay
    // argument is unchanged — the rung recomputes byte-identically over
    // the re-admitted rows
    val learnedScreens =
      pplModelPath.map(p => graft.ops.TextAnalysis.bigramModel(
        spark, p, idCol, textCol) -> (col("xent_bits") <= pplMaxBits)) ++
      nbModelPath.map(p => graft.ops.TextAnalysis.nbModel(
        spark, p, idCol, textCol) -> (col("log_odds") > nbMinLogOdds))
    batches(stream, checkpoint) {
      (batch, batchId) =>
        // ── rung 1: the ingestGate screens ──
        val withText = batch.where(col(textCol).isNotNull)
        val reps = graft.ops.Dedup.exact(withText, idCol, textCol)
          .select(col(idCol))
        val deduped = withText.join(broadcast(reps), Seq(idCol), "left_semi")
        // quality floor inlined (the batch-curate convention): a pure
        // per-row projection needs no build-and-semi-join-back pass
        val scored =
          if (minQuality <= 0.0) deduped
          else deduped.where(
            graft.ops.TextAnalysis.qualityCol(col(textCol)) >= minQuality)
        // ── rung 1L (optional): the learned screens, batch-curate order ──
        val gated = learnedScreens.foldLeft(scored) { case (d, (score, keep)) =>
          d.join(broadcast(score(d).where(keep).select(col("doc_id").as(idCol))),
            Seq(idCol), "left_semi")
        }
        val fresh = graft.ops.Dedup.exactDedupAgainstIndex(
          spark, gated, textCol, keyIndexPath).persist()
        // metrics count the line rung's survivors; persisted so that
        // count is a cache scan, never a second standing-index probe
        var linedP: Option[DataFrame] = None
        try {
          // ── rung 1b (optional): boilerplate-line removal, in the
          // batch-curate order — chrome first, verbatim spans second ──
          val lined0 = lineIndexPath match {
            case Some(p) =>
              unitScreen(spark, graft.ops.Dedup.Lines, fresh, idCol,
                  textCol, p, s"b$batchId", lineMdf.get)
                // kept newlines re-normalize to the single-space
                // convention the word-level rungs split on
                .select(col("doc_id").as(idCol),
                  regexp_replace(col("clean_text"), "\n", " ").as(textCol))
            case None => fresh.select(col(idCol), col(textCol))
          }
          val lined =
            if (metrics.isDefined && lineIndexPath.isDefined) {
              linedP = Some(lined0.persist()); lined0
            } else lined0
          // ── rung 2: the gramExciseSink excisions ──
          val screened = gramScreen(spark, lined, idCol, textCol,
            gramIndexPath, w).persist()
          try {
            // ── rung 3: the semanticGateSink screens on survivors ──
            // zero-norm vectors are excluded like null ones (the q81
            // absence rule): cosineGuarded reads them as 0 ≥ nothing,
            // so they can match no row at tau > 0 — and were they
            // admitted, their IVF append would not be idempotent
            // under replay (a zero vector cannot meet itself at
            // cosine 1, the window-(b) convergence argument)
            val vecs = batch
              .select(col(idCol).as("doc_id"), col(vecCol).as("_vec"))
              .join(screened.select(col("doc_id")), Seq("doc_id"), "left_semi")
              .where(col("_vec").isNotNull && size(col("_vec")) > 0 &&
                exists(col("_vec"), _ =!= 0.0f))
              .withColumn("_v", transform(col("_vec"), _.cast("double")))
              .withColumn("_vn", graft.ops.Similarity.norm(col("_v")))
              .withColumn("cell", graft.functions.VectorFunctions
                .nearestCentroid(col("_v"), centroids))
              .repartition(col("cell"))
              .persist()
            try {
              val inBatchDups = vecs.as("a")
                .join(vecs.as("b"),
                  col("a.cell") === col("b.cell") &&
                    col("b.doc_id") < col("a.doc_id") &&
                    graft.ops.Similarity.cosineWithNorms(
                      col("a._v"), col("b._v"),
                      col("a._vn"), col("b._vn")) >= tau)
                .select(col("a.doc_id")).distinct()
              val survVec = vecs.join(inBatchDups, Seq("doc_id"), "left_anti")
              val probeCells = survVec.select(col("cell")).distinct()
                .collect().map(_.getInt(0)) // bounded by nCells
              val standingDups =
                if (probeCells.isEmpty) inBatchDups.limit(0)
                else survVec.join(
                  spark.read.parquet(s"$ivfIndexPath/data")
                    .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
                    .select(col("cell").as("_icell"),
                      transform(col(ivfVecCol), _.cast("double")).as("_iv"))
                    .withColumn("_ivn", graft.ops.Similarity.norm(col("_iv"))),
                  col("cell") === col("_icell") &&
                    graft.ops.Similarity.cosineWithNorms(
                      col("_v"), col("_iv"), col("_vn"), col("_ivn")) >= tau,
                  "left_semi").select(col("doc_id"))
              val semDrop = inBatchDups.unionByName(standingDups).distinct()
              // ── rung 4: emit, then advance the indexes in REPLAY
              // order — vectors → grams → exact keys LAST (the key
              // append is the rung-1 replay gate: any crash before
              // it leaves a batch the replay re-admits and
              // re-drives through the later appends; see the
              // docstring's per-window convergence argument) ──
              val nulls = nullTextRows(batch, idCol, textCol,
                "n_words", "n_excised")
              val ladder = admit(screened
                  .join(semDrop, Seq("doc_id"), "left_anti")) { survivors =>
                // ── metrics: the ladder's admission counts, taken
                // BEFORE the appends — the appends recache-by-path
                // every frame that reads a standing index (survivors
                // probes the IVF data it is about to advance), so a
                // post-append count would recompute against the
                // advanced index, not this batch's view. Every count
                // is a cache scan (or populates the cache the write
                // below reuses) ──
                val counts = metrics.map { _ =>
                  val emitted = survivors.count()
                  Seq("rows_in" -> batch.count(),
                      "keys" -> fresh.count()) ++
                    linedP.map(l => "lines" -> l.count()) ++
                    Seq("grams" -> screened.count(),
                      "semantic" -> emitted,
                      "out_rows" -> (emitted + nulls.count()),
                      "vec_rows" -> survVec
                        .join(survivors.select(col("doc_id")),
                          Seq("doc_id"), "left_semi").count())
                }
                survivors.unionByName(nulls)
                  .write.mode("append").parquet(outPath)
                counts
              } { survivors =>
                survVec.join(survivors.select(col("doc_id")),
                    Seq("doc_id"), "left_semi")
                  .select(col("doc_id").as(ivfIdCol),
                    col("_vec").as(ivfVecCol), col("cell"))
                  .write.mode("append").partitionBy("cell")
                  .parquet(s"$ivfIndexPath/data")
                // grams of original ∪ STAGE-2 survivors' emitted text
                // (`screened`, not `survivors`): rung-3-dropped
                // content was SEEN, and `screened` is what a
                // vectors-committed replay recomputes identically
                graft.ops.Dedup.appendGrams(spark,
                  fresh.select(col(textCol).as("_gram_text"))
                    .unionByName(screened
                      .select(col("clean_text").as("_gram_text"))),
                  "_gram_text", gramIndexPath)
                // line counts of every rung-1 survivor's ORIGINAL
                // text (the seen contract), token-keyed overwrite —
                // idempotent, so it needs no window of its own; it
                // only has to precede the key gate
                lineIndexPath.foreach(p =>
                  graft.ops.Dedup.appendLineCounts(fresh, idCol, textCol,
                    p, s"b$batchId"))
                graft.ops.Dedup.appendExactKeys(spark, fresh, textCol,
                  keyIndexPath)
              }
              // recorded only once the batch's appends all committed
              // (a crashed batch leaves no line, its replay logs its
              // own)
              ladder.foreach(metrics.get.record(batchId, _))
            } finally vecs.unpersist()
          } finally screened.unpersist()
        } finally {
          fresh.unpersist()
          linedP.foreach(_.unpersist())
        }
    }
  }

  /** The streaming ADMISSION PIPELINE — the shape a continuous corpus
    * ingest actually has, composed from the oracle-checked batch
    * operators, per micro-batch:
    *
    *  1. within-batch exact dedup (min-id representative per content
    *     hash — a dump often self-duplicates);
    *  2. quality floor ([[graft.ops.TextAnalysis.qualityScore]] ≥
    *     `minQuality`);
    *  3. standing-corpus screen ([[graft.ops.Dedup
    *     .exactDedupAgainstIndex]]: Bloom clears definitely-new rows in
    *     the scan, the exact verify never shuffles the corpus keys);
    *  4. survivors append to `outPath` AND their keys admit into the
    *     key index ([[graft.ops.Dedup.appendExactKeys]], Bloom-union) —
    *     so batch N+1 screens against batch N's admissions, not just
    *     the original corpus.
    *
    * Replayed micro-batches re-screen against their own admitted keys,
    * so a crash-replay appends duplicates to `outPath` only for rows
    * the failed attempt admitted but whose key append did not commit —
    * the usual at-least-once window, compacted away by the exact-dedup
    * any downstream read applies.
    */
  def ingestGate(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                 idCol: String, textCol: String, keyIndexPath: String,
                 outPath: String, checkpoint: String,
                 minQuality: Double = 0.0,
                 metrics: Option[RungMetrics] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches(stream, checkpoint) { (batch, batchId) =>
      // null-text rows can never collide (the key-index contract), so
      // they bypass both dedup stages; a positive quality floor drops
      // them (no content to score), minQuality = 0 admits them
      val withText = batch.where(col(textCol).isNotNull)
      val nullText = batch.where(col(textCol).isNull)
      val reps = graft.ops.Dedup.exact(withText, idCol, textCol)
        .select(col(idCol))
      val deduped = withText.join(broadcast(reps), Seq(idCol), "left_semi")
      // quality floor inlined (the batch-curate convention): a pure
      // per-row projection needs no build-and-semi-join-back pass
      val scored =
        if (minQuality <= 0.0) deduped.unionByName(nullText)
        else deduped.where(
          graft.ops.TextAnalysis.qualityCol(col(textCol)) >= minQuality)
      admit(graft.ops.Dedup.exactDedupAgainstIndex(
          spark, scored, textCol, keyIndexPath)) { admitted =>
        // counts before the key append (which recaches-by-path the
        // very frame that probed the index), recorded after it
        val gateLadder = metrics.map(_ =>
          Seq("rows_in" -> batch.count(), "out_rows" -> admitted.count()))
        admitted.write.mode("append").parquet(outPath)
        gateLadder
      }(graft.ops.Dedup.appendExactKeys(spark, _, textCol, keyIndexPath))
        .foreach(metrics.get.record(batchId, _))
    }

  /** Shared skeleton of the learned admission gates, whose callers
    * load (and layout-check) their frozen model at sink START: per
    * micro-batch score under it, keep the admitted ids + score columns,
    * and append the original rows with scores attached. Stateless given
    * the layout; deterministic scoring makes at-least-once replays
    * byte-identical (the compactOutput keep-any discipline).
    */
  private def modelGateSink(stream: DataFrame, idCol: String,
                            outPath: String, checkpoint: String)
                           (score: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches(stream, checkpoint) { (batch, _) =>
      batch.join(score(batch), Seq(idCol))
        .write.mode("append").parquet(outPath)
    }

  /** The LEARNED-filter admission gate — [[graft.ops.TextAnalysis
    * .naiveBayesScore]]'s streaming twin over a persisted model
    * ([[graft.ops.TextAnalysis.buildNbModel]]): every micro-batch is
    * scored under the FROZEN model (meta constants are plan literals read
    * once at sink start — the frozen-geometry convention; refreshing the
    * filter is a model rebuild with the sink stopped) and rows whose
    * rounded log-odds clear `threshold` append to `outPath` with their
    * score attached. Null-text rows have no tokens to score and drop —
    * a learned TEXT filter admits nothing it cannot read.
    *
    * Replay contract: scoring is deterministic under a frozen model, so
    * an at-least-once replay re-emits byte-identical rows — the
    * [[graft.ops.IndexMaintenance.compactOutput]] keep-any discipline
    * applies, and no state accumulates in the sink (the gate is
    * stateless given the model; unlike [[ingestGate]] there is no
    * standing index to converge).
    *
    * Completes the admission-gate ladder: exact keys ([[ingestGate]]),
    * semantic cells ([[semanticGateSink]]), heuristic floors (the
    * quality knob), and now a trained provenance classifier.
    */
  def nbGateSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                 idCol: String, textCol: String, modelPath: String,
                 outPath: String, checkpoint: String,
                 threshold: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val score = graft.ops.TextAnalysis.nbModel(spark, modelPath, idCol, textCol)
    modelGateSink(stream, idCol, outPath, checkpoint) { batch =>
      score(batch).where(col("log_odds") > threshold)
        .select(col("doc_id").as(idCol), col("log_odds"))
    }
  }

  /** The perplexity admission gate — [[graft.ops.TextAnalysis
    * .bigramLmScoreAgainst]]'s streaming twin over a persisted reference
    * LM ([[graft.ops.TextAnalysis.buildBigramLm]]): every micro-batch is
    * scored under the FROZEN model and rows whose rounded cross-entropy
    * stays at or under `maxBits` append to `outPath` with
    * (xent_bits, n_oov) attached — the CCNet in-domain screen as a
    * standing ingest filter. Null-text rows and <2-token rows have no
    * transitions to rate and drop (a perplexity filter admits nothing it
    * cannot score).
    *
    * Same replay contract as [[nbGateSink]]: deterministic scoring under
    * a frozen model, stateless given the layout, at-least-once replays
    * re-emit byte-identical rows (the compactOutput keep-any discipline).
    * Refreshing the reference slice is a model rebuild with the sink
    * stopped — the frozen-geometry convention.
    */
  def pplGateSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                  idCol: String, textCol: String, modelPath: String,
                  outPath: String, checkpoint: String, maxBits: Double)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val score = graft.ops.TextAnalysis.bigramModel(spark, modelPath, idCol, textCol)
    modelGateSink(stream, idCol, outPath, checkpoint) { batch =>
      score(batch).where(col("xent_bits") <= maxBits)
        .select(col("doc_id").as(idCol), col("xent_bits"), col("n_oov"))
    }
  }

  /** The importance admission gate — [[graft.ops.Sampling
    * .dsirLogWeights]]'s streaming twin over a persisted model
    * ([[graft.ops.Sampling.buildDsirModel]]): every micro-batch is
    * weighed under the FROZEN target/pool bucket models and rows whose
    * rounded log-weight clears `minLogW` append to `outPath` with
    * (log_w, n_tokens) attached — importance FILTERING, the streaming
    * face of DSIR (top-k RESAMPLING needs the whole corpus and stays a
    * batch op; a threshold on the same weight is the ingest-time
    * equivalent). Null-text and zero-token rows drop — the gate admits
    * nothing it cannot profile.
    *
    * Same replay contract as [[nbGateSink]]/[[pplGateSink]]:
    * deterministic scoring under a frozen model, stateless given the
    * layout, at-least-once replays re-emit byte-identical rows.
    */
  def dsirGateSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                   idCol: String, textCol: String, modelPath: String,
                   outPath: String, checkpoint: String, minLogW: Double)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val score = graft.ops.Sampling.dsirModel(spark, modelPath, idCol, textCol)
    modelGateSink(stream, idCol, outPath, checkpoint) { batch =>
      score(batch).where(col("log_w") >= minLogW)
        .select(col("doc_id").as(idCol), col("log_w"), col("n_tokens"))
    }
  }

  /** The k-NN admission gate — [[graft.ops.Similarity.knnClassify]]'s
    * streaming twin over a persisted labeled seed ([[graft.ops
    * .Similarity.buildLabelSeed]]): every micro-batch's embeddings are
    * classified by majority vote of their `k` nearest seed vectors
    * (the seed broadcasts — the auto-labeling direction), and rows
    * whose `vote_frac` clears `minVoteFrac` AND whose predicted label
    * is in `admitLabels` (empty = any label) append to `outPath` with
    * (pred_label, vote_frac) attached. This closes the learned-gate
    * ladder with the embedding-space classifier: exact keys, semantic
    * cells, heuristic floors, text classifiers — and now a
    * vector-neighborhood vote from a human-labeled seed.
    *
    * Same replay contract as [[nbGateSink]]: deterministic under the
    * frozen seed (opened once at sink start, as the other gates load
    * their models), stateless given the layout, at-least-once replays
    * re-emit byte-identical rows (the compactOutput keep-any
    * discipline). `excludeSelf` is OFF here — stream ids and seed ids
    * are different id spaces, and an accidental numeric collision must
    * not silence a vote.
    */
  def knnGateSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                  idCol: String, vecCol: String, seedPath: String,
                  outPath: String, checkpoint: String,
                  k: Int, minVoteFrac: Double,
                  admitLabels: Seq[Int] = Seq.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.ops.Similarity.requireLayout(spark, seedPath, "knn_seed")
    val seed = spark.read.parquet(s"$seedPath/seed")
    modelGateSink(stream, idCol, outPath, checkpoint) { batch =>
      val voted = graft.ops.Similarity.knnClassify(seed, batch,
          "id", "vec", "label", idCol, vecCol, k,
          excludeSelf = false, broadcastLabeled = true)
        .where(col("vote_frac") >= minVoteFrac)
      val admitted =
        if (admitLabels.isEmpty) voted
        else voted.where(col("pred_label").isin(admitLabels: _*))
      admitted.select(col("q_id").as(idCol), col("pred_label"),
        col("vote_frac"))
    }
  }

  /** The per-key QUOTA gate — [[graft.ops.Sampling.capPerKey]]'s
    * streaming counterpart over a [[graft.ops.Sampling.buildQuotaState]]
    * layout: at most `n` ids are EVER admitted per key across the
    * stream's lifetime (the "no domain floods the ingest" throttle). A
    * stream cannot rank by quality against rows it has not seen, so the
    * within-batch pick is the md5(id) coin (the [[graft.ops.Sampling]]
    * convention) — deterministic, so a replayed batch re-derives the
    * identical admissions. The quota is per ID: duplicate-id rows in
    * one batch consume one slot and all pass (honest passthrough);
    * null-key/null-id rows never admit.
    *
    * Crash discipline (the incremental-index ladder's): the OUTPUT
    * appends first, the state DELTA appends second. A crash between
    * them replays the batch against the pre-batch state — the md5 rank
    * re-derives the same ids, the re-append is byte-identical
    * (compactOutput keep-any convergence); a crash after the state
    * append but before the checkpoint commit replays to an EMPTY fresh
    * set (the pairs are already stated), so nothing duplicates at all.
    * State is the admitted (key, id) SET — bounded at n per key, read
    * through `countDistinct` so a rare double-appended delta can never
    * double-count a quota — never a counter, which a replay would
    * inflate. Each batch appends ONE bounded delta instead of
    * rewriting the set (O(batch), not O(state), per batch — the
    * line-count index discipline); fold the accumulating small files
    * offline with [[graft.ops.IndexMaintenance.compact]] (flat mode,
    * stream stopped). Scale shape: the rank is one window over
    * BATCH-sized groups (bounded by the trigger, not the corpus); the
    * batch never shuffles (admitted ids broadcast into a semi-join).
    */
  def quotaGateSink(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame, idCol: String, keyCol: String,
                    statePath: String, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val n = graft.ops.Similarity
      .requireLayout(spark, statePath, "quota_gate")("n").toInt
    batches(stream, checkpoint) { (batch, _) =>
      val used = spark.read.parquet(s"$statePath/admitted")
      val fresh = batch
        .where(col(idCol).isNotNull && col(keyCol).isNotNull)
        .select(col(keyCol).cast("string").as("key"),
          col(idCol).cast("long").as("id"))
        .distinct()
        .join(used, Seq("key", "id"), "left_anti")
      // countDistinct, not count: a replayed delta may sit twice in the
      // state, and a doubled count would halve a key's real budget
      val usedPerKey = used.groupBy(col("key"))
        .agg(countDistinct(col("id")).as("_used"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(md5(col("id").cast("string")), col("id"))
      // an empty admission appends nothing: no output rows, no delta
      admit(fresh
        .withColumn("_rk", row_number().over(w))
        .join(usedPerKey, Seq("key"), "left")
        .where(col("_rk") <= lit(n) - coalesce(col("_used"), lit(0L)))
        .select(col("key"), col("id"))) { admitted =>
        if (!admitted.isEmpty)
          batch.join(broadcast(admitted.select(col("id").as("_qid"))),
              col(idCol).cast("long") === col("_qid"), "left_semi")
            .write.mode("append").parquet(outPath)
      } { admitted =>
        if (!admitted.isEmpty)
          admitted.write.mode("append").parquet(s"$statePath/admitted")
      }
    }
  }

  /** The TOKEN-BUDGET admission gate — the mixture recipe (q133/q134)
    * enforced on an ingest stream: per micro-batch, each stratum admits
    * rows by [[graft.ops.Sampling.tokenBudgetPrefix]]'s greedy
    * md5-ordered prefix rule against what REMAINS of its frozen budget
    * ([[graft.ops.Sampling.buildTokenBudgetState]] layout); strata
    * outside the recipe never admit (not-in-the-recipe semantics).
    * This completes the admission ladder: the quota gate throttles
    * DOCS per key, this one spends TOKENS per stratum — the currency
    * training mixtures are actually written in. `tokenCol` is a
    * caller-projected count column (TokenCountExpr, ws tokens — the
    * gate is tokenizer-agnostic); null counts spend 0 but still admit.
    * The spend counts tokens DELIVERED: a duplicate id re-arriving in
    * a LATER batch spends again (tracking every admitted id would be
    * unbounded state — the quota gate's set discipline only works
    * because its state is capped at n per key), so compose this rung
    * AFTER the exact-dedup gate in the ingest ladder, where re-arrivals
    * are already screened. WITHIN a batch the gate protects itself:
    * rows collapse to one per (stratum, id) — max token count, the
    * conservative spend — before the prefix ranks, so the same id
    * landing twice in one batch (with equal or different counts)
    * spends once and admits once.
    *
    * Crash discipline (the quota gate's, adapted to a counter): the
    * OUTPUT appends first, the (key, batch_id, tokens) state delta
    * second, and the spend is read as DISTINCT-then-sum over deltas
    * from batches STRICTLY BEFORE the current id — so a replayed batch
    * sees the identical pre-batch state whether or not its own delta
    * landed, re-derives the identical admissions, and both windows
    * converge by keep-any/dedup (CrashOrderSpec-pinned). Scale shape:
    * the prefix window runs over BATCH-sized stratum groups (bounded
    * by the trigger, never the corpus); the committed state is one
    * bounded row per (stratum, batch); admitted ids broadcast into a
    * semi-join so the batch itself never shuffles.
    */
  def tokenBudgetGateSink(spark: org.apache.spark.sql.SparkSession,
                          stream: DataFrame, idCol: String,
                          stratumCol: String, tokenCol: String,
                          statePath: String, outPath: String,
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.ops.Similarity.requireLayout(spark, statePath, "token_budget_gate")
    batches(stream, checkpoint) {
      (batch, batchId) =>
        val budgets = spark.read.parquet(s"$statePath/budgets")
        // spend from EARLIER batches only: a replayed batch must see
        // the same pre-batch state whether or not its own delta landed
        val used = spark.read.parquet(s"$statePath/committed")
          .where(col("batch_id") < batchId)
          .distinct()
          .groupBy(col("key")).agg(sum(col("tokens")).as("_used"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"))
          .orderBy(md5(col("id").cast("string")), col("id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val picked = batch
          .where(col(idCol).isNotNull && col(stratumCol).isNotNull)
          .select(col(stratumCol).cast("string").as("key"),
            col(idCol).cast("long").as("id"),
            coalesce(col(tokenCol).cast("long"), lit(0L)).as("_tok"))
          // ONE row per (key, id): the upstream exact-dedup gate screens
          // cross-batch re-arrivals but not the same id landing twice in
          // one batch with DIFFERENT token counts (re-crawled doc, same
          // id) — a distinct() would keep both rows, rank both in the
          // prefix, and spend the budget twice while the id-keyed
          // semi-join admits every row of the id. Deterministic pick:
          // the max count (the conservative spend).
          .groupBy(col("key"), col("id"))
          .agg(max(col("_tok")).as("_tok"))
          .join(broadcast(budgets), Seq("key"))
          .join(broadcast(used), Seq("key"), "left")
          .withColumn("_cum", sum(col("_tok")).over(w))
          .where(col("_cum") <=
            col("budget") - coalesce(col("_used"), lit(0L)))
          .select(col("key"), col("id"), col("_tok"))
        // an empty admission appends nothing: no output rows, no delta
        admit(picked) { admitted =>
          if (!admitted.isEmpty)
            batch.join(broadcast(admitted.select(col("id").as("_aid"))),
                col(idCol).cast("long") === col("_aid"), "left_semi")
              .write.mode("append").parquet(outPath)
        } { admitted =>
          if (!admitted.isEmpty)
            admitted.groupBy(col("key"))
              .agg(sum(col("_tok")).as("tokens"))
              .select(col("key"), lit(batchId).as("batch_id"), col("tokens"))
              .write.mode("append").parquet(s"$statePath/committed")
        }
    }
  }

  /** Streaming per-source corpus card — [[graft.ops.Analytics.dataCard]]'s
    * incremental twin for an ingest feed: running n_docs / n_null_text /
    * ws_tokens / avg_chars / approx language count per source, emitted in
    * UPDATE mode after every micro-batch. All counters are
    * incrementally-mergeable aggregates (state per source is one
    * aggregation buffer, not rows): the exact `n_duped` and
    * COUNT(DISTINCT lang) of the batch card need corpus-wide row state —
    * duplication monitoring belongs to the key-index gate
    * ([[ingestGate]]), and the language tally degrades gracefully to
    * `approx_count_distinct` here. The projection is the same
    * fixed-width one as the batch card: no text ever enters the
    * aggregation state.
    */
  def dataCardStream(stream: DataFrame, textCol: String,
                     srcCol: String, langCol: String,
                     charsCol: String): DataFrame =
    stream.select(col(srcCol).as("source"), col(langCol).as("_lang"),
        col(charsCol).cast("double").as("_chars"),
        when(col(textCol).isNull, 1L).otherwise(0L).as("_isnull"),
        coalesce(
          size(expr(s"filter(split($textCol, ' '), x -> x <> '')")), lit(0))
          .cast("long").as("_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_isnull")).as("n_null_text"),
        sum(col("_toks")).as("ws_tokens"),
        round(avg(col("_chars")), 2).as("avg_chars"),
        approx_count_distinct(col("_lang")).as("approx_langs"))

  /** The SEMANTIC admission gate — [[graft.ops.Similarity.semDedup]]'s
    * streaming twin over a persisted IVF index
    * ([[graft.ops.Similarity.buildIvfIndex]]), per micro-batch:
    *
    *  1. cell assignment with the index's own frozen centroids (bounded
    *     driver read at sink start, the [[ivfIndexSink]] contract);
    *  2. within-batch screen: the q80 greedy-by-id rule — a row drops
    *     when a lower-id batchmate in the same cell has cosine ≥ `tau`;
    *  3. standing-corpus screen: survivors anti-join the index data
    *     RESTRICTED to the batch's own cells (a bounded `isin` on the
    *     partition column — directory pruning, never a full index read)
    *     against cosine ≥ `tau`;
    *  4. admitted rows append into the cell-partitioned layout — so
    *     batch N+1 screens against batch N's admissions (each batch
    *     re-lists the index), and a replayed row meets itself at
    *     cosine 1 and drops (at-least-once replays cannot re-admit).
    *
    * The dedup ladder's streaming end: exact keys ([[ingestGate]]),
    * lexical bands ([[textIndexSink]]-fed screens), and semantic cells
    * all admit through the same foreachBatch append discipline.
    */
  def semanticGateSink(spark: org.apache.spark.sql.SparkSession,
                       stream: DataFrame, idCol: String, vecCol: String,
                       indexPath: String, checkpoint: String,
                       tau: Double = 0.4): org.apache.spark.sql.streaming.StreamingQuery = {
    val centroids = graft.ops.Similarity.readCentroidMatrix(spark, indexPath)
    batches(stream
      // null, empty AND zero-norm vectors are excluded: a zero vector
      // carries no direction (cosineGuarded reads it as 0 ≥ nothing),
      // so admitting it adds un-matchable dead weight — and breaks
      // replay idempotence: every other admitted row meets ITSELF at
      // cosine 1 on a post-append replay and is not re-appended, but a
      // zero vector cannot, so it would duplicate per replay
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        exists(col(vecCol), _ =!= 0.0f)), checkpoint) {
      (batch, _) =>
        val b = batch
          .withColumn("_v", transform(col(vecCol), _.cast("double")))
          .withColumn("_vn", graft.ops.Similarity.norm(col("_v")))
          .withColumn("cell", graft.functions.VectorFunctions.nearestCentroid(
            col("_v"), centroids))
        val part = b.select(col(idCol), col("cell"), col("_v"), col("_vn"))
          .repartition(col("cell"))
        // the guarded-cosine form: defense in depth for zero-norm INDEX
        // rows (a pre-existing layout may carry them) — an undefined
        // cosine never matches, rather than killing the batch with an
        // ANSI DIVIDE_BY_ZERO that checkpoint replay would re-throw
        // forever
        val inBatchDups = part.as("a")
          .join(part.as("b"),
            col("a.cell") === col("b.cell") &&
              col(s"b.$idCol") < col(s"a.$idCol") &&
              graft.ops.Similarity.cosineWithNorms(col("a._v"), col("b._v"),
                col("a._vn"), col("b._vn")) >= tau)
          .select(col(s"a.$idCol")).distinct()
        // persisted: both the probe-cell collect and the admitted write
        // replay this DAG (assignment + quadratic within-batch screen) —
        // without the cache it would execute twice per batch
        val surv = b.join(inBatchDups, Seq(idCol), "left_anti").persist()
        try {
          val probeCells = surv.select(col("cell")).distinct()
            .collect().map(_.getInt(0)) // bounded by nCells
          val admitted =
            if (probeCells.isEmpty) surv
            else {
              val idx = spark.read.parquet(s"$indexPath/data")
                .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
                .select(col("cell").as("_icell"),
                  transform(col(vecCol), _.cast("double")).as("_iv"))
                .withColumn("_ivn", graft.ops.Similarity.norm(col("_iv")))
              surv.join(idx,
                col("cell") === col("_icell") &&
                  graft.ops.Similarity.cosineWithNorms(
                    col("_v"), col("_iv"), col("_vn"), col("_ivn")) >= tau,
                "left_anti")
            }
          admitted.drop("_v", "_vn")
            .write.mode("append").partitionBy("cell").parquet(s"$indexPath/data")
        } finally surv.unpersist()
    }
  }

  /** Continuously maintain a QUANTIZED persisted LSH index built by
    * [[graft.ops.Similarity.buildLshIndexQuantized]]: buckets from the
    * full-precision vector (the builder's geometry rule), rows land as
    * (id, scale, q: array<byte>) — the bucket-partitioned twin of
    * [[ivfIndexQuantizedSink]], with [[lshIndexSink]]'s admission guard
    * and `foreachBatch` append discipline.
    */
  def lshIndexQuantizedSink(stream: DataFrame, idCol: String, vecCol: String,
                            path: String, checkpoint: String, dim: Int,
                            nBits: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    batches(stream
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol),
        graft.functions.VectorFunctions.quantizeInt8(
          transform(col(vecCol), _.cast("double"))).as("_z"),
        concat(lit("b"), graft.functions.VectorFunctions.lshBucket(
          transform(col(vecCol), _.cast("double")), dim, nBits)).as("bucket"))
      .select(col(idCol), col("_z.scale").as("scale"), col("_z.q").as("q"),
        col("bucket")), checkpoint) { (batch, _) =>
      batch.write.mode("append").partitionBy("bucket").parquet(s"$path/data")
    }

  /** Continuously maintain a QUANTIZED persisted IVF index built by
    * [[graft.ops.Similarity.buildIvfIndexQuantized]]: same frozen-centroid
    * contract and `foreachBatch` append discipline as [[ivfIndexSink]],
    * but each arriving vector is int8-quantized in-flight — cells are
    * assigned from the FULL-precision vector (the builder's rule, so
    * batch-built and streamed rows share geometry) and the row lands as
    * (id, scale, q: array<byte>), the 4×-narrower layout every
    * quantized probe reads. Replayed micro-batches are at-least-once,
    * like the float sink.
    */
  def ivfIndexQuantizedSink(spark: org.apache.spark.sql.SparkSession,
                            stream: DataFrame, idCol: String, vecCol: String,
                            indexPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val centroids = graft.ops.Similarity.readCentroidMatrix(spark, indexPath)
    batches(stream
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol),
        graft.functions.VectorFunctions.quantizeInt8(
          transform(col(vecCol), _.cast("double"))).as("_z"),
        graft.functions.VectorFunctions.nearestCentroid(
          transform(col(vecCol), _.cast("double")), centroids).as("cell"))
      .select(col(idCol), col("_z.scale").as("scale"), col("_z.q").as("q"),
        col("cell")), checkpoint) { (batch, _) =>
      batch.write.mode("append").partitionBy("cell").parquet(s"$indexPath/data")
    }
  }

  /** IVF index sink WITH A DRIFT CARD — the streaming member of the
    * rebuild-audit family (q111/q114 watched, not polled): appends each
    * micro-batch into the layout under the frozen-geometry contract
    * (float, int8 or IVF-PQ per the layout's `meta` — the matching
    * index sink's own in-flight projection, residual-aware for PQ),
    * then runs the matching rebuild-drift audit over the grown layout
    * and appends ONE card row per completed batch to `cardPath`:
    *
    *   (batch_id, n_appended, n_stored, n_stayed, retention)
    *
    * so the card parquet IS the retention-over-time curve a deployment
    * alerts on ("rebuild when retention < 0.9" becomes a filter over
    * this table). Cost note: the audit re-scans the layout once per
    * batch (one bounded refit + one assignment scan — q111's plan); at
    * a high-frequency ingest attach this sink on a slow trigger (e.g.
    * minutes) or keep the plain index sink hot and run the card stream
    * on a sampled feed — the append and the audit stay correct at any
    * cadence because both read only committed layout state. Card rows
    * are at-least-once like the data appends: a replayed batch re-runs
    * its audit against an index that can only have grown, so duplicate
    * batch_ids carry monotonically equal-or-lower retention — last one
    * wins for monitoring.
    */
  def ivfDriftCardSink(spark: org.apache.spark.sql.SparkSession,
                       stream: DataFrame, idCol: String, vecCol: String,
                       indexPath: String, checkpoint: String,
                       cardPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val layout = graft.ops.Similarity.readIndexMeta(spark, indexPath)
      .getOrElse("layout", "ivf")
    require(layout == "ivf" || layout == "ivf_int8" || layout == "ivf_pq",
      s"ivfDriftCardSink: layout '$layout' at $indexPath is not an IVF " +
        "cell layout (flat PQ has no cells to drift)")
    val centroids = graft.ops.Similarity.readCentroidMatrix(spark, indexPath)
    val clean = stream.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val placed = layout match {
      case "ivf" =>
        clean.withColumn("cell", graft.functions.VectorFunctions.nearestCentroid(
          transform(col(vecCol), _.cast("double")), centroids))
      case "ivf_int8" =>
        clean.select(col(idCol),
            graft.functions.VectorFunctions.quantizeInt8(
              transform(col(vecCol), _.cast("double"))).as("_z"),
            graft.functions.VectorFunctions.nearestCentroid(
              transform(col(vecCol), _.cast("double")), centroids).as("cell"))
          .select(col(idCol), col("_z.scale").as("scale"), col("_z.q").as("q"),
            col("cell"))
      case _ => // ivf_pq: the index sink's own residual-aware encode
        ivfPqEncoded(spark, clean, idCol, vecCol, indexPath)
    }
    batches(placed, checkpoint) {
      (batch, batchId) =>
        val n = batch.count()
        batch.write.mode("append").partitionBy("cell").parquet(s"$indexPath/data")
        val drift =
          if (layout == "ivf")
            graft.ops.Similarity.ivfRebuildDrift(spark, indexPath, idCol, vecCol)
          else graft.ops.Similarity.codeRebuildDrift(spark, indexPath, idCol)
        val (stored, stayed) = drift
          .agg(sum(col("n_stored")), sum(col("n_stayed")))
          .as[(Long, Long)].head()
        val retention =
          if (stored > 0) math.rint(stayed.toDouble / stored * 1e6) / 1e6
          else 0.0
        Seq((batchId, n, stored, stayed, retention))
          .toDF("batch_id", "n_appended", "n_stored", "n_stayed", "retention")
          .coalesce(1).write.mode("append").parquet(cardPath)
    }
  }

  /** Streaming distribution-drift card — [[graft.ops.Analytics
    * .distributionDrift]]'s (q135) watch form: every micro-batch's
    * bucket distribution is PSI-scored against a reference snapshot
    * FROZEN at sink start (its bucket counts are one bounded
    * |buckets|-row driver collect — the frozen-centroid contract
    * applied to a distribution), and the per-bucket table appends to
    * the card parquet with the batch id. The card IS the
    * drift-over-time curve an ingest deployment alerts on ("page when
    * sum(psi) per batch > 0.25" is a filter over the card, the
    * [[ivfDriftCardSink]] reading); per-bucket rows keep WHICH bucket
    * moved, which the scalar alone loses. A replayed micro-batch
    * re-appends the same rows — at-least-once like every card here;
    * last batch_id wins when reading.
    */
  def driftCardSink(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame, bucketCol: String,
                    reference: DataFrame, checkpoint: String,
                    cardPath: String, eps: Double = 1e-6)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refRows = reference.groupBy(col(bucketCol))
      .agg(count(lit(1)).as("ref_n")).collect()
      .map(r => org.apache.spark.sql.Row(r.get(0), r.getLong(1))).toSeq
    require(refRows.nonEmpty, "driftCardSink: empty reference snapshot")
    // the frozen snapshot keeps the reference's own bucket type (a lang
    // string, an int band) so the outer join in driftFromCounts stays
    // key-typed
    val refCounts = spark.createDataFrame(
      java.util.Arrays.asList(refRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        reference.schema(bucketCol).copy(nullable = true),
        org.apache.spark.sql.types.StructField("ref_n",
          org.apache.spark.sql.types.LongType, nullable = false))))
    batches(stream, checkpoint) {
      (batch, batchId) =>
        // An idle source delivering an empty micro-batch is NOT drift:
        // scoring zero cur rows would mark every frozen reference
        // bucket vanished (cur_n=0, eps-floored PSI) and false-alarm
        // the "page when sum(psi) > 0.25" reading. Skip, don't score.
        if (!batch.isEmpty) {
          val curCounts = batch.groupBy(col(bucketCol))
            .agg(count(lit(1)).as("cur_n"))
          graft.ops.Analytics
            .driftFromCounts(refCounts, curCounts, bucketCol, eps, scale = 6)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("append").parquet(cardPath)
        }
    }
  }

  /** Continuously maintain a persisted PQ index built by
    * [[graft.ops.Similarity.buildPqIndex]]: the index's OWN codebooks
    * (m·nCodes rows, one bounded driver read at sink start) ride into
    * the stream as a codegen'd [[graft.functions.VectorFunctions
    * .pqEncode]] projection, and each arriving vector lands as
    * (id, codes) — m ints, never a stored float. Codebooks are FROZEN at
    * sink start, the PQ analog of [[ivfIndexSink]]'s frozen-centroid
    * contract: stored codes are only decodable against the codebooks
    * that produced them, so refinement means rebuild, not drift.
    * `foreachBatch` plain appends (the parquet file sink's
    * `_spark_metadata` log would hide the batch-built corpus); replayed
    * micro-batches are at-least-once — a duplicate code row only
    * re-ranks as itself; rebuild to compact.
    */
  def pqIndexSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                  idCol: String, vecCol: String, indexPath: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val cb = readCodebooks(spark, indexPath)
    batches(stream
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol),
        graft.functions.VectorFunctions.pqEncode(
          transform(col(vecCol), _.cast("double")), cb).as("codes")),
      checkpoint) { (batch, _) =>
      batch.write.mode("append").parquet(s"$indexPath/data")
    }
  }

  /** Continuously maintain an IVF-PQ index built by
    * [[graft.ops.Similarity.buildIvfPqIndex]] — [[pqIndexSink]]'s frozen
    * codebooks AND [[ivfIndexSink]]'s frozen centroids in one projection:
    * cells are assigned from the full-precision vector (the builder's
    * quantize-after-placing rule, so batch-built and streamed rows share
    * geometry) and each row lands as (id, codes) in its cell partition —
    * the layout [[graft.ops.Similarity.ivfPqIndexTopK]] and
    * [[graft.ops.Similarity.ivfPqIndexKnnJoin]] probes prune and read.
    * A RESIDUAL layout (`meta` marker) is honored: arriving vectors
    * encode `v − centroid[cell]`, exactly what the batch builder stored
    * — a raw encode appended into a residual index would be silently
    * mis-scored by every probe. Same at-least-once replay cost as the
    * other vector sinks.
    */
  def ivfPqIndexSink(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                     idCol: String, vecCol: String, indexPath: String,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batches(ivfPqEncoded(spark, stream, idCol, vecCol, indexPath),
        checkpoint) { (batch, _) =>
      batch.write.mode("append").partitionBy("cell").parquet(s"$indexPath/data")
    }

  /** The IVF-PQ sink's in-flight projection, shared with the drift
    * card: place by the layout's frozen centroids, encode against its
    * frozen codebooks (residual-aware per the meta marker) — one
    * codegen'd pipeline yielding (id, codes, cell).
    */
  private def ivfPqEncoded(spark: org.apache.spark.sql.SparkSession,
                           stream: DataFrame, idCol: String, vecCol: String,
                           indexPath: String): DataFrame = {
    val cb = readCodebooks(spark, indexPath)
    val centroids = graft.ops.Similarity.readCentroidMatrix(spark, indexPath)
    val residual = graft.ops.Similarity.isResidualIndex(spark, indexPath)
    val placed = stream
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol), transform(col(vecCol), _.cast("double")).as("_v"))
      .withColumn("cell",
        graft.functions.VectorFunctions.nearestCentroid(col("_v"), centroids))
    if (residual)
      placed.select(col(idCol),
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.centroidResidual(
            col("_v"), col("cell"), centroids), cb).as("codes"),
        col("cell"))
    else
      placed.select(col(idCol),
        graft.functions.VectorFunctions.pqEncode(col("_v"), cb).as("codes"),
        col("cell"))
  }

  /** One bounded driver read of a PQ codebook table — the sink-start
    * freeze. Delegates to [[graft.ops.Similarity.readCodebooks]] so the
    * sinks and the query side share one layout reader.
    */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[Array[Array[Double]]] =
    graft.ops.Similarity.readCodebooks(spark, path)

  /** Continuously maintain a persisted TEXT-dedup index built by
    * [[graft.ops.Dedup.buildTextIndex]] — the streaming member of the
    * index-sink family (LSH/IVF vector sinks above): each arriving
    * document pays its tokenize+md5 pass ONCE, in-flight, and lands as
    *
    *   `sets/`  — its distinct shingle set (the exact-Jaccard verify side)
    *   `bands/` — its banded minhash keys, into the same band partitions
    *
    * so [[graft.ops.Dedup.minHashLshFromIndex]] probes see new documents
    * as soon as their batch commits, with zero corpus re-tokenization.
    * `w`/`k`/`bands` must match the values the batch builder used —
    * minhash keys are deterministic functions of them, so a mismatch
    * would silently partition streamed docs away from the batch corpus;
    * a layout carrying the geometry meta is CHECKED at sink start
    * (fail-fast, the gate convention), and a populated layout with NO
    * meta (interrupted meta write, or a pre-meta build) is REFUSED —
    * nothing can vouch for its geometry, so rebuild to adopt meta first.
    * Docs with no shingles (null/too-short text) are refused at the door,
    * matching the batch builder. Appends run through `foreachBatch` like
    * the vector sinks (the parquet file sink's `_spark_metadata` log
    * would hide the batch-built corpus from later reads); replayed
    * micro-batches are at-least-once — a duplicate (doc_id, band, h) row
    * only re-proposes an existing candidate pair, which the candidate
    * `distinct()` collapses.
    */
  def textIndexSink(stream: DataFrame, idCol: String, textCol: String,
                    path: String, checkpoint: String, w: Int = 3, k: Int = 8,
                    bands: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    checkTextLayout(stream, path, w, k, bands)
    batches(stream, checkpoint) { (batch, _) =>
      appendTextBatch(batch, idCol, textCol, path, w, k, bands)
    }
  }

  /** The sink-start gate [[textIndexSink]] and [[textIndexCardSink]]
    * share: fail CLOSED on a populated layout with no meta (interrupted
    * meta write or pre-meta build — nothing can vouch for the stored
    * geometry), on a reband tombstone (meta may vouch for a geometry
    * the bands don't carry), and on a geometry mismatch (appending
    * would silently partition streamed docs away from the batch corpus).
    */
  private def checkTextLayout(stream: DataFrame, path: String,
                              w: Int, k: Int, bands: Int): Unit = {
    val meta = graft.ops.Similarity.readIndexMeta(stream.sparkSession, path)
    if (meta.isEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        stream.sparkSession.sparkContext.hadoopConfiguration)
      val populated = Seq("sets", "bands").forall(sub =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub")))
      require(!populated,
        s"layout at $path has sets/ and bands/ but no meta — cannot " +
          "verify the stored geometry; rebuild once with buildTextIndex " +
          "(which stamps meta) before starting the sink")
    }
    if (meta.get("layout").contains("text_dedup")) {
      require(!meta.contains("rebanding"),
        s"layout at $path has an interrupted reband in flight " +
          s"(tombstone rebanding=${meta("rebanding")}) — re-run " +
          "rebandTextIndex to completion before starting the sink")
      val stored = (meta("w"), meta("k"), meta("bands"))
      require(stored == ((w.toString, k.toString, bands.toString)),
        s"textIndexSink geometry (w=$w, k=$k, bands=$bands) disagrees " +
          s"with the layout at $path (w=${stored._1}, k=${stored._2}, " +
          s"bands=${stored._3}) — appending would silently partition " +
          "streamed docs away from the batch corpus; reband or match")
    }
  }

  /** One micro-batch's append into a text-dedup layout: one tokenize
    * pass serves both tables — the index's whole point.
    */
  private def appendTextBatch(batch: DataFrame, idCol: String,
                              textCol: String, path: String,
                              w: Int, k: Int, bands: Int): Unit = {
    val sets = graft.ops.Dedup.shingleSets(batch, idCol, textCol, w).persist()
    try {
      sets.write.mode("append").parquet(s"$path/sets")
      graft.ops.Dedup.bandKeys(
          graft.ops.Dedup.minHashSignatures(sets, k), k, bands)
        .write.mode("append").partitionBy("band").parquet(s"$path/bands")
    } finally sets.unpersist()
  }

  /** [[textIndexSink]] WITH A RECALL CARD — the lexical-screen member
    * of the card family ([[ivfDriftCardSink]] retention,
    * [[driftCardSink]] PSI): each micro-batch appends into the layout
    * exactly like the plain sink, then every `auditEvery`-th batch
    * re-runs the [[graft.ops.Dedup.dedupRecallFromIndex]] audit over a
    * bounded deterministic `auditSample` slice of the GROWN layout and
    * appends its banded curve to `cardPath` as
    *
    *   (batch_id, band, j_lo, n_truth, n_hit, recall)
    *
    * so the card parquet IS the screen-recall-over-time curve a dedup
    * deployment alerts on ("reband when the 0.5-band recall drops
    * under 0.9" is a filter over this table) — watched, not polled.
    * Cost note: the audit is quadratic-by-contract on its slice; size
    * `auditSample` by the BASELINE.md slice rule and stretch
    * `auditEvery` at high-frequency ingest — correctness holds at any
    * cadence because the audit reads only committed layout state. Card
    * rows are at-least-once like every card here: a replayed batch
    * re-audits an index that can only have grown; last batch_id wins
    * when reading.
    */
  def textIndexCardSink(spark: org.apache.spark.sql.SparkSession,
                        stream: DataFrame, idCol: String, textCol: String,
                        path: String, checkpoint: String, cardPath: String,
                        w: Int = 3, k: Int = 8, bands: Int = 4,
                        auditEvery: Int = 1, auditSample: Double = 1.0,
                        truthThreshold: Double = 0.2, maxBucket: Int = 1000,
                        maxDf: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(auditEvery >= 1, s"auditEvery must be positive: $auditEvery")
    checkTextLayout(stream, path, w, k, bands)
    batches(stream, checkpoint) { (batch, batchId) =>
      appendTextBatch(batch, idCol, textCol, path, w, k, bands)
      if (batchId % auditEvery == 0) {
        graft.ops.Dedup.dedupRecallFromIndex(spark, path,
            truthThreshold = truthThreshold, maxBucket = maxBucket,
            maxDf = maxDf, sample = auditSample)
          .withColumn("batch_id", lit(batchId))
          .select(col("batch_id"), col("band"), col("j_lo"),
            col("n_truth"), col("n_hit"), col("recall"))
          .coalesce(1).write.mode("append").parquet(cardPath)
      }
    }
  }

  /** Running token offset per shard for [[packStream]]. */
  case class PackState(offset: Long)
  case class PackOut(doc_id: Long, shard: String, n_tokens: Long,
                     start_off: Long, seq_first: Long, seq_last: Long)

  /** Continuous sequence packing — the streaming twin of
    * [[graft.ops.Packing.pack]]: each shard keeps a running token offset
    * in the state store, and every arriving document is assigned its
    * stream offset and spanned seqLen-chunk range on the spot. State is
    * O(1) per shard and shards are bounded (sources/splits), so no
    * timeout/eviction is needed. Docs are processed in doc-id order
    * WITHIN a micro-batch; across batches offsets follow arrival order —
    * the inherent streaming contract (a deterministic feed yields
    * deterministic offsets, pinned against the batch twin in the spec).
    */
  def packStream(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                 seqLen: Int): org.apache.spark.sql.Dataset[PackOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        col("shard").cast("string").as("shard"),
        col("n_tokens").cast("long").as("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard, it, state) =>
          var off = state.getOption.map(_.offset).getOrElse(0L)
          // CONTRACT: one micro-batch's rows for ONE shard are buffered
          // here to sort by doc id — memory ∝ the shard's share of a
          // micro-batch (bounded by trigger size), never the stream;
          // the HELD state stays O(1) per shard (one offset)
          val out = it.toIndexedSeq.sortBy(_._1).map { case (id, _, n) =>
            val start = off
            off += n
            // floorDiv, and (end-1) for the last chunk — the exact batch
            // twin arithmetic (Packing.pack), including zero-token docs
            // (empty span: seq_last < seq_first)
            PackOut(id, shard, n, start, Math.floorDiv(start, seqLen),
              Math.floorDiv(off - 1, seqLen))
          }
          state.update(PackState(off))
          out.iterator
      }
  }

  /** [[packTokensStream]] state: the shard's global token offset plus
    * the PARTIAL trailing sequence (≤ seqLen−1 ids and its doc-start
    * offsets) — the tokens that arrived but haven't filled a sequence
    * yet. Invariant: `buf.length == offset % seqLen`.
    */
  case class PackTokState(offset: Long, buf: Seq[Int], starts: Seq[Int])
  case class PackTokOut(shard: String, seq_id: Long, token_ids: Seq[Int],
                        n_tokens: Long, doc_starts: Seq[Int])

  /** Continuous token-id packing — the streaming twin of
    * [[graft.ops.Packing.packTokens]] and the id-materializing member
    * of the pack family ([[packStream]] emits offsets; this emits the
    * training-ready sequences themselves): each arriving document is
    * encoded in-flight by the codegen'd tokenizer expression, its ids
    * append to the shard's running stream, and every COMPLETED
    * seqLen-token sequence is emitted with its `doc_starts` boundary
    * offsets (the batch twin's contract). The trailing partial sequence
    * lives in the state store until later batches fill it — held state
    * is O(seqLen) per shard (offset + ≤ seqLen−1 ids), and shards are
    * bounded, so no timeout/eviction is needed; a micro-batch's rows
    * for one shard are buffered only to sort by doc id (memory ∝
    * trigger size, the [[packStream]] contract). Across batches offsets
    * follow arrival order — a deterministic in-order feed reproduces
    * the batch twin's FULL sequences exactly (spec-pinned); the batch
    * twin's final short sequence is precisely what remains in state.
    * Append-mode output through Spark's state store: state updates are
    * exactly-once per micro-batch, sink rows at-least-once on replay
    * like every sink here.
    */
  def packTokensStream(spark: org.apache.spark.sql.SparkSession,
                       docs: DataFrame, seqLen: Int,
                       encoder: graft.functions.TokenEncoder)
      : org.apache.spark.sql.Dataset[PackTokOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("shard").cast("string").as("shard"),
        graft.functions.TokenCounters.encode(encoder, col("text")).as("ids"))
      .as[(Long, String, Seq[Int])]
      .groupByKey(_._2)
      .flatMapGroupsWithState[PackTokState, PackTokOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard, it, state) =>
          val st = state.getOption.getOrElse(PackTokState(0L, Nil, Nil))
          var off = st.offset
          val buf = scala.collection.mutable.ArrayBuffer[Int](st.buf: _*)
          val starts = scala.collection.mutable.ArrayBuffer[Int](st.starts: _*)
          val out = scala.collection.mutable.ArrayBuffer.empty[PackTokOut]
          it.toIndexedSeq.sortBy(_._1).foreach { case (_, _, ids) =>
            if (ids.nonEmpty) {
              starts += (off % seqLen).toInt
              ids.foreach { t =>
                buf += t
                off += 1
                if (buf.length == seqLen) {
                  out += PackTokOut(shard, off / seqLen - 1, buf.toVector,
                    seqLen.toLong, starts.toVector)
                  buf.clear()
                  starts.clear()
                }
              }
            }
          }
          state.update(PackTokState(off, buf.toVector, starts.toVector))
          out.iterator
      }
  }

  /** Furthest funnel stage reached and when (epoch millis) — the whole
    * per-user state of [[funnelStream]].
    */
  case class FunnelState(stage: Int, t: Long)
  case class FunnelProgress(user_id: Long, stage: Int, event_type: String,
                            reached_at: java.sql.Timestamp)

  /** Real-time funnel tracking — the streaming twin of
    * [[graft.ops.Analytics.funnel]]: per-user state is ONE (stage,
    * timestamp) pair, and a [[FunnelProgress]] row is emitted each time
    * a user ADVANCES a stage (strictly-after semantics, like batch), so
    * stage counts at any moment are one count per emitted stage value.
    * Events are folded in event-time order within each micro-batch; an
    * in-order, in-watermark feed reproduces the batch funnel exactly
    * (pinned in the spec — batch sequential-min is order-insensitive,
    * a stream can only advance forward, the inherent streaming
    * contract). State is O(1) per user with no timeout to manage.
    */
  def funnelStream(spark: org.apache.spark.sql.SparkSession,
                   events: DataFrame, steps: Seq[String],
                   watermark: String = "1 hour")
      : org.apache.spark.sql.Dataset[FunnelProgress] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    events
      // null user/ts refused at the door: the typed Long key cannot hold
      // null and a null timestamp cannot order a funnel transition (the
      // batch twin's min/comparison semantics ignore such rows too)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_type").cast("string").as("event_type"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val advances = scala.collection.mutable.ListBuffer.empty[FunnelProgress]
          it.toSeq.sortBy(_._2.getTime).foreach { case (_, ts, tpe) =>
            if (st.stage < steps.length && tpe == steps(st.stage) &&
                (st.stage == 0 || ts.getTime > st.t)) {
              st = FunnelState(st.stage + 1, ts.getTime)
              advances += FunnelProgress(uid, st.stage, tpe, ts)
            }
          }
          if (advances.nonEmpty) state.update(st)
          advances.iterator
      }
  }

  /** One session interval carried in the state store: [start, lastTs] in
    * epoch millis plus the running aggregates.
    */
  case class SessState(start: Long, lastTs: Long, n: Long, sval: Double)
  /** Per-key state: EVERY session not yet past the watermark, in start
    * order. Bounded: a key holds at most the sessions inside the
    * watermark horizon (horizon/gap of them in the worst case).
    */
  case class SessBag(sessions: Seq[SessState])
  case class SessionOut(user_id: Long, sess_start: java.sql.Timestamp,
                        n_events: Long, sval: Double)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * arbitrary-state tool for session semantics the declarative
    * `session_window` cannot express (per-session running aggregates,
    * custom close rules). The state holds ALL of a key's sessions still
    * inside the watermark horizon as time intervals; each micro-batch
    * merge-folds the held intervals with the batch's events in start
    * order (gap-joined intervals coalesce), and a session is emitted
    * ONLY once the watermark passes `lastTs + gap` — via event-time
    * timeout or the next batch, whichever comes first. Until then any
    * in-watermark late event can still merge into it, so cross-batch
    * late arrivals extend or bridge held sessions instead of splitting
    * them. State per key is O(horizon/gap) intervals and eviction is
    * watermark-driven — the properties that keep the state store bounded
    * on an unbounded firehose. Output matches batch sessionization
    * exactly whenever each session's events arrive within the watermark
    * (beyond-watermark events are dropped by the stream's late-data
    * filter — the inherent divergence any watermarked sessionizer has).
    */
  def sessionizeWithState(spark: org.apache.spark.sql.SparkSession,
                          events: DataFrame, gapMinutes: Int = 30,
                          watermark: String = "1 hour"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessBag, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, it, state) =>
          def out(s: SessState) =
            SessionOut(uid, new java.sql.Timestamp(s.start), s.n,
              math.round(s.sval * 100.0) / 100.0)
          // one code path serves both the event and the timeout call: fold
          // held intervals + new singleton intervals in start order,
          // coalescing any pair within the gap (an event inside or
          // adjacent to a held interval merges; gap-separated late events
          // chain among themselves into their own sessions)
          val held = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val incoming = it.map { case (_, t, v) =>
            SessState(t.getTime, t.getTime, 1, v)
          }.toSeq
          var merged = List.empty[SessState]
          (held ++ incoming).sortBy(s => (s.start, s.lastTs)).foreach { s =>
            merged match {
              case h :: rest if s.start - h.lastTs <= gapMs =>
                merged = SessState(h.start, math.max(h.lastTs, s.lastTs),
                  h.n + s.n, h.sval + s.sval) :: rest
              case _ => merged = s :: merged
            }
          }
          // emit only sessions the watermark has passed: any event that
          // could still merge into them would be below the watermark and
          // dropped by the late-data filter, so they are final
          val wm = state.getCurrentWatermarkMs()
          val (expired, live) = merged.reverse.partition(_.lastTs + gapMs <= wm)
          if (live.isEmpty) state.remove()
          else {
            state.update(SessBag(live))
            // earliest close first; > wm by construction, so legal
            state.setTimeoutTimestamp(live.map(_.lastTs).min + gapMs)
          }
          expired.iterator.map(out)
      }
  }
}
