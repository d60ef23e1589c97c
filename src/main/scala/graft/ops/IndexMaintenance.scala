package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Maintenance for the persisted index layouts (IVF/LSH vector indexes,
  * text-dedup bands, exact-dedup keys): the streaming sinks append one
  * parquet file per micro-batch per partition directory, so a
  * long-running stream fragments a layout into thousands of tiny files —
  * at 100 TB that turns every probe's file-listing and scan setup into
  * the bottleneck (the classic small-file problem). Compaction rewrites
  * the data to one file per partition directory without changing a row.
  */
object IndexMaintenance {

  /** Rewrite a (possibly hive-partitioned) parquet directory with one
    * file per partition value — `partCol` is the layout's partition
    * column (`cell`, `bucket`, `band`), or None for a flat directory
    * (`keys/`, `sets/`), which compacts to `numFiles` files.
    *
    * The rewrite stages into a sibling `_compact_tmp` directory and
    * swaps in two renames: the live dir moves ASIDE to `_compact_old`,
    * the staged copy renames into place, then the old copy is deleted.
    * A crash at any point leaves a COMPLETE layout reachable — before
    * the first rename the live dir is untouched; between the renames
    * the staged layout is complete at `_compact_tmp` and recovery is
    * one rename (`_compact_tmp` → dir); after the second rename the
    * layout is live and `_compact_old` is garbage to delete. (A
    * delete-then-rename swap has a window where NO layout exists at
    * `dir` — a resumed stream or probe would fail outright.) The swap
    * is still not atomic for concurrent READERS (a probe racing the
    * renames can miss the directory): compaction is an offline
    * maintenance step, run it with the stream stopped — the sinks'
    * checkpoint state is untouched (foreachBatch tracks source offsets,
    * not data files), so the stream resumes against the compacted
    * layout.
    *
    * One shuffle on the partition key (each value hashes to exactly one
    * task, hence exactly one output file per directory); a flat rewrite
    * is a round-robin repartition. Row content, schema, and partition
    * values are preserved bit-for-bit — pinned by the spec.
    */
  def compact(spark: SparkSession, dir: String, partCol: Option[String],
              numFiles: Int = 1): Unit =
    stageAndSwap(spark, dir) { tmp =>
      val df = spark.read.parquet(dir)
      partCol match {
        case Some(c) =>
          df.repartition(col(c)).write.partitionBy(c).mode("overwrite").parquet(tmp)
        case None =>
          df.repartition(numFiles).write.mode("overwrite").parquet(tmp)
      }
    }

  /** COMPACT AWAY the at-least-once output duplicates of the streaming
    * ingest sinks ([[graft.streaming.Streams.gramExciseSink]] /
    * [[graft.streaming.Streams.curationIngestSink]]): their replay
    * contracts append same-`idCol` rows that differ only by FURTHER
    * excision (a replay re-excises against an index that can only have
    * grown — it can never excise less), plus byte-identical null-text
    * stubs. This op is the "downstream compaction keyed on doc_id"
    * those contracts defer to: keep ONE row per id — the MOST-excised
    * one (max `n_excised`, then min `n_words`, then min text length /
    * text, a total order so the pick is deterministic), which is the
    * convergent state the contract guarantees every duplicate is an
    * earlier prefix of.
    *
    * The "most cleaned" ordering is SCHEMA-DERIVED, because the sinks
    * emit different counter columns: the gram sinks (n_excised,
    * n_words), the line sink (n_removed, n_lines). Whatever cleanup /
    * size counters the layout carries order first (more cleaned, then
    * smaller), and the text itself breaks remaining ties — a total
    * order either way, so the pick is deterministic.
    *
    * Scale shape: one partial-aggregatable `min_by` per id (map-side
    * combine, single hash shuffle on the id — no per-key window sort),
    * then the [[compact]] rename-aside swap, so a crash at any point
    * leaves a complete layout and the same one-rename recovery. Run
    * offline with the stream stopped, like [[compact]] — the sink
    * checkpoints track source offsets, not output files, so the stream
    * resumes cleanly against the compacted output.
    */
  /** Keep the NEWEST row per key across appended batches — the crawl
    * FRESHNESS compaction: [[graft.streaming.Streams.latestFetchSink]]
    * appends each micro-batch's per-url newest fetch, and this step
    * collapses the appended history to one row per canonical url (a
    * later re-fetch REPLACES an earlier one — upsert by compaction,
    * the same at-least-once + compact contract as [[compactOutput]],
    * but max-order on the recency columns instead of min-order on the
    * cleanup ladder). Replays re-append byte-identical rows, which
    * `max_by` dedups for free; ties on (warc_date, record_id) cannot
    * occur for real records (record ids are unique).
    *
    * `n_fetches` (when the layout carries it) is SUMMED across the
    * collapsed batches, not taken from the winning row: each appended
    * row's count covers only its own micro-batch's fetches, while
    * `latestByUrl` documents the column as "the fetches the
    * representative stands for" — after compaction that is the
    * cross-batch total. Replayed batches re-append byte-identical rows
    * (the at-least-once contract), which a plain sum would double-count,
    * so rows dedup on (key, orderCols) FIRST — the replay copy is
    * byte-identical by contract, so dropping it loses nothing.
    */
  def compactLatest(spark: SparkSession, dir: String,
                    keyCol: String = "canon_url",
                    orderCols: Seq[String] =
                      Seq("warc_date", "record_id")): Unit =
    stageAndSwap(spark, dir) { tmp =>
      val df0 = spark.read.parquet(dir)
      val df = df0.dropDuplicates(keyCol +: orderCols)
      val cols = df.columns.map(col)
      val aggs =
        (max_by(struct(cols: _*), struct(orderCols.map(col): _*))
          .as("_row")) +:
        (if (df.columns.contains("n_fetches"))
          Seq(sum(col("n_fetches")).as("_nf"))
        else Seq.empty[org.apache.spark.sql.Column])
      val winner = df.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
      val out =
        if (df.columns.contains("n_fetches"))
          winner.select(col("_row.*"), col("_nf"))
            .withColumn("n_fetches", col("_nf").cast("long")).drop("_nf")
        else winner.select(col("_row.*"))
      out.write.mode("overwrite").parquet(tmp)
    }

  def compactOutput(spark: SparkSession, dir: String,
                    idCol: String = "doc_id"): Unit =
    stageAndSwap(spark, dir) { tmp =>
      val df = spark.read.parquet(dir)
      val cols = df.columns.map(col)
      val names = df.columns.toSet
      // lexicographic: most cleaned first, then fewest units, then
      // shortest / smallest text (nulls: stubs are identical, any pick)
      val cleaned = Seq("n_excised", "n_removed").filter(names)
        .map(c => negate(col(c)))
      val units = Seq("n_words", "n_lines").filter(names).map(col)
      val text =
        if (names("clean_text"))
          Seq(coalesce(length(col("clean_text")), lit(-1)),
              coalesce(col("clean_text"), lit("")))
        else Seq.empty
      // the learned-gate sinks (nb/ppl/dsir) carry none of the cleanup
      // counters — their replay contract is BYTE-IDENTICAL re-emission
      // under a frozen model, so every remaining ATOMIC column is a
      // legal (and vacuous) tiebreak: order over all of them keeps the
      // pick a total order without naming each gate's score column
      val fallback =
        if ((cleaned ++ units ++ text).nonEmpty) Seq.empty
        else df.schema.fields
          .filter(f => f.name != idCol && (f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType |
                 _: org.apache.spark.sql.types.BinaryType => false
            case _ => true
          }))
          .map(f => coalesce(col(f.name).cast("string"), lit("")))
          .toSeq
      val ordCols = cleaned ++ units ++ text ++ fallback
      require(ordCols.nonEmpty, s"compactOutput at $dir: no ordering " +
        s"column available (neither cleanup counters nor atomic columns) " +
        s"in schema [${df.columns.mkString(", ")}]")
      df.groupBy(col(idCol))
        .agg(min_by(struct(cols: _*), struct(ordCols: _*)).as("_row"))
        .select(col("_row.*"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Fold the line-count index's committed per-batch deltas into
    * `delta=base`, bounding a layout that otherwise grows one
    * `lines/delta=b<batchId>/` directory per micro-batch for the
    * stream's whole lifetime (months of 1-minute batches = hundreds of
    * thousands of directories — the probe-side sum never loses
    * correctness, but partition listing becomes the probe's cost).
    *
    * A delta is foldable ONLY once its micro-batch is COMMITTED in the
    * sink's `checkpoint` (the `commits/` epoch files): an uncommitted
    * batch will REPLAY on restart, and its replay (a) re-appends its
    * token as an overwrite — double-counting if the counts were already
    * folded into base — and (b) probes with `excludeToken = b<id>`,
    * which can only exclude a delta that still exists as its own
    * partition. Folding strictly behind the committed offset preserves
    * both contracts, so this is safe to run with the stream STOPPED
    * (same discipline as [[compact]]; the rename swap is not atomic for
    * concurrent readers).
    *
    * One aggregation job (sum df per lh over base + folded deltas —
    * index-sized, distinct lines only), per-kept-delta passthrough
    * rewrites, then the [[compact]] rename-aside swap: a crash at any
    * point leaves a complete layout. Probe results are byte-identical
    * before/after — pinned by the spec, including with an in-flight
    * (uncommitted) delta present.
    *
    * @return the folded tokens (empty when nothing was foldable)
    */
  def consolidateLineDeltas(spark: SparkSession, path: String,
                            checkpoint: String): Seq[String] =
    consolidateCountDeltas(spark, path, checkpoint, "lines", "lh")

  /** [[consolidateLineDeltas]] for a paragraph-count layout
    * ([[graft.ops.Dedup.buildParagraphIndex]]) — same contract, same
    * checkpoint gating, `paras/` subdir and `ph` key.
    */
  def consolidateParagraphDeltas(spark: SparkSession, path: String,
                                 checkpoint: String): Seq[String] =
    consolidateCountDeltas(spark, path, checkpoint, "paras", "ph")

  private def consolidateCountDeltas(spark: SparkSession, path: String,
                                     checkpoint: String, subdir: String,
                                     keyCol: String): Seq[String] = {
    val hc = spark.sparkContext.hadoopConfiguration
    val commits = new org.apache.hadoop.fs.Path(
      s"${checkpoint.stripSuffix("/")}/commits")
    val cfs = commits.getFileSystem(hc)
    val lastCommitted: Option[Long] =
      if (!cfs.exists(commits)) None
      else cfs.listStatus(commits).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .maxOption
    lastCommitted.map { last =>
      val unitsDir = s"${path.stripSuffix("/")}/$subdir"
      val lp = new org.apache.hadoop.fs.Path(unitsDir)
      val lfs = lp.getFileSystem(hc)
      val tokens = lfs.listStatus(lp).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("delta=")).map(_.stripPrefix("delta="))
      val foldable = tokens.filter(t => t != "base" && t.startsWith("b") &&
        t.drop(1).nonEmpty && t.drop(1).forall(_.isDigit) &&
        t.drop(1).toLong <= last)
      if (foldable.isEmpty) Seq.empty[String]
      else {
        val folded = (foldable :+ "base").filter(tokens.contains)
        val kept = tokens.filterNot(folded.contains)
        stageAndSwap(spark, unitsDir) { tmp =>
          val all = spark.read.parquet(unitsDir)
          all.where(col("delta").isin(folded: _*))
            .groupBy(col(keyCol)).agg(sum(col("df")).as("df"))
            .write.mode("overwrite").parquet(s"$tmp/delta=base")
          kept.foreach(t =>
            all.where(col("delta") === t).drop("delta")
              .write.mode("overwrite").parquet(s"$tmp/delta=$t"))
        }
        foldable
      }
    }.getOrElse(Seq.empty)
  }

  /** Fold the token-budget gate's committed spend ledger behind the
    * checkpoint offset — [[consolidateLineDeltas]]'s discipline applied
    * to [[graft.streaming.Streams.tokenBudgetGateSink]]'s state, which
    * otherwise grows one file and one (key, batch_id, tokens) row per
    * (stratum, admitting batch) FOREVER and is re-read per micro-batch:
    * a months-long stream turns every batch's spend lookup into a
    * hundreds-of-thousands-of-files listing.
    *
    * A delta is foldable ONLY once its micro-batch is COMMITTED in the
    * sink's `checkpoint` (`commits/` epoch files): an uncommitted batch
    * replays on restart and must see the identical PRE-batch spend —
    * its own delta, if it landed in the crash window, must neither fold
    * into earlier batches (the replay's `batch_id < id` read would then
    * wrongly include it) nor lose its byte-identity (the replay's
    * re-append collapses against it via the ledger's DISTINCT read).
    * Folding strictly behind the committed offset preserves both: all
    * rows with `batch_id <= last` collapse — through the same DISTINCT
    * the gate reads with — to ONE `(key, last, sum)` row per stratum,
    * and later rows pass through byte-identical. Every future read
    * (`batch_id < n` for n > last, DISTINCT, sum) returns the identical
    * spend. Run with the stream STOPPED (rename swap, the [[compact]]
    * discipline); crash at any point leaves a complete ledger
    * ([[stageAndSwap]]).
    *
    * @return the folded batch ids (empty when nothing was foldable)
    */
  def consolidateTokenBudgetState(spark: SparkSession, path: String,
                                  checkpoint: String): Seq[Long] = {
    graft.ops.Similarity.requireLayout(spark, path, "token_budget_gate")
    val hc = spark.sparkContext.hadoopConfiguration
    val commits = new org.apache.hadoop.fs.Path(
      s"${checkpoint.stripSuffix("/")}/commits")
    val cfs = commits.getFileSystem(hc)
    val lastCommitted: Option[Long] =
      if (!cfs.exists(commits)) None
      else cfs.listStatus(commits).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        .maxOption
    lastCommitted.map { last =>
      val dir = s"${path.stripSuffix("/")}/committed"
      // DISTINCT first: a replayed batch's crash-window duplicate rows
      // collapse exactly as the gate's own read collapses them
      val all = spark.read.parquet(dir).distinct()
      val foldedIds = all.where(col("batch_id") <= last)
        .select(col("batch_id")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      // already-folded detection (idempotency): one row per key, all
      // stamped at the committed offset, is this op's own output shape
      val alreadyFolded = foldedIds == Seq(last) && {
        val behind = all.where(col("batch_id") <= last)
        behind.count() == behind.select(col("key")).distinct().count()
      }
      if (foldedIds.isEmpty || alreadyFolded) Seq.empty
      else {
        stageAndSwap(spark, dir) { tmp =>
          val folded = all.where(col("batch_id") <= last)
            .groupBy(col("key")).agg(sum(col("tokens")).as("tokens"))
            .select(col("key"), lit(last).as("batch_id"), col("tokens"))
          // kept rows rewrite byte-identically: an in-flight batch's
          // replay must still collapse against its own landed delta
          folded.unionByName(all.where(col("batch_id") > last))
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        }
        foldedIds
      }
    }.getOrElse(Seq.empty)
  }

  /** REBUILD a persisted vector-index layout in place — the maintenance
    * ACTION the drift gauges call for: [[graft.ops.Similarity
    * .ivfRebuildDrift]] / [[graft.ops.Similarity.codeRebuildDrift]]
    * tell a deployment its frozen build-time geometry has drifted from
    * the corpus the sinks have since appended; this op closes the loop
    * by re-deriving that geometry (centroids and/or codebooks, with the
    * build parameters recorded in the layout's `meta` table) from the
    * CURRENT stored corpus and rewriting the layout with the same
    * rename-aside swap as [[compact]] — a crash at any point leaves a
    * complete layout, recovery is at most one rename.
    *
    * Per layout (from `meta`):
    *  - `ivf` (float): re-run the builder on the stored rows
    *    (`vecCol` names the float column the layout carries);
    *  - `ivf_int8`: decode `q·scale/127`, rebuild — re-quantization of
    *    a decoded vector is value-identical (the max-|q| element is
    *    ±127, so the scale round-trips), only placements change;
    *  - `ivf_pq` (raw or residual) / flat `pq`: decode codes against
    *    the stored codebooks, re-derive codebooks (and cells) from the
    *    decoded corpus, re-encode.
    *
    * Like [[compact]], run with the layout's streaming sink STOPPED:
    * sinks freeze geometry at start, so a sink started before the
    * rebuild would keep placing/encoding with the old carve. Restarted
    * sinks pick up the refreshed geometry (they re-read centroids/
    * codebooks at start); their checkpoints track source offsets, not
    * index files, so the stream resumes cleanly.
    */
  def rebuild(spark: SparkSession, dir: String, idCol: String,
              vecCol: String = "embedding"): Unit = {
    import graft.ops.{Similarity => S}
    val meta = S.readIndexMeta(spark, dir)
    val layout = meta.getOrElse("layout",
      throw new IllegalArgumentException(
        s"rebuild: no layout meta at $dir (pre-meta layout — rebuild it " +
          "once with the original builder to adopt the meta contract)"))
    val ki = meta.get("kmeans_iters").map(_.toInt).getOrElse(0)
    val nCells = meta.get("n_cells").map(_.toInt).getOrElse(16)
    stageAndSwap(spark, dir) { tmp =>
      layout match {
        case "ivf" =>
          val data = spark.read.parquet(s"$dir/data").drop("cell")
          S.buildIvfIndex(data, idCol, vecCol, tmp, nCells, ki)
        case "ivf_int8" =>
          val dec = S.decodeStored(spark, dir, idCol)
            .select(col(idCol), col("_v"))
          S.buildIvfIndexQuantized(dec, idCol, "_v", tmp, nCells, ki)
        case "ivf_pq" =>
          val dec = S.decodeStored(spark, dir, idCol)
            .select(col(idCol), col("_v"))
          S.buildIvfPqIndex(dec, idCol, "_v", tmp, nCells,
            m = meta.get("m").map(_.toInt).getOrElse(4),
            nCodes = meta.get("n_codes").map(_.toInt).getOrElse(16),
            kmeansIters = ki,
            residual = meta.get("encoding").contains("residual"))
        case "pq" =>
          val dec = S.decodeStored(spark, dir, idCol)
            .select(col(idCol), col("_v"))
          S.buildPqIndex(dec, idCol, "_v", tmp,
            m = meta.get("m").map(_.toInt).getOrElse(4),
            nCodes = meta.get("n_codes").map(_.toInt).getOrElse(16),
            kmeansIters = ki)
        case other => throw new IllegalArgumentException(
          s"rebuild: unsupported layout '$other' at $dir (LSH geometry " +
            "is data-independent — nothing drifts to rebuild)")
      }
    }
  }

  /** The text layout's rebuild is a REBAND under its own meta geometry
    * ([[graft.ops.Dedup.rebandTextIndex]]): bands re-derive from the
    * persisted sets — no original text needed, so it lives outside the
    * vector dispatch above (which must decode stored vectors first).
    * The rebuild task's text arm dispatches HERE (single dispatch
    * point); `k`/`bands` overrides retune the screen off the q139
    * audit, defaults re-derive the meta geometry.
    */
  def rebuildText(spark: SparkSession, dir: String,
                  k: Option[Int] = None, bands: Option[Int] = None): Unit = {
    val meta = graft.ops.Similarity.readIndexMeta(spark, dir)
    graft.ops.Dedup.rebandTextIndex(spark, dir,
      k = k.getOrElse(meta.getOrElse("k", "8").toInt),
      bands = bands.getOrElse(meta.getOrElse("bands", "4").toInt))
  }

  /** Stage a rewrite of `dir` into a sibling `_compact_tmp` (the
    * `write` callback owns the staging write), then swap it live with
    * the two-rename discipline documented on [[compact]].
    *
    * Crash recovery = RE-RUN, in every window: a crash before the first
    * rename leaves the live dir untouched (the rerun restages and
    * swaps); a crash BETWEEN the renames leaves the live dir absent and
    * a COMPLETE staged copy at `_compact_tmp` (the first rename only
    * runs after `write` returned) — the rerun detects that state and
    * completes the single remaining `tmp -> dir` rename WITHOUT calling
    * `write` again, which matters because several `write` callbacks
    * ([[compact]], [[rebuild]]) read the live dir that no longer
    * exists. A caller whose staged content depends on parameters that
    * may differ across runs (reband geometry) must delete a stale tmp
    * before calling when the parameters changed — see
    * [[graft.ops.Dedup.rebandTextIndex]].
    */
  private[graft] def stageAndSwap(spark: SparkSession, dir: String)
                          (write: String => Unit): Unit = {
    val tmp = dir.stripSuffix("/") + "_compact_tmp"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "_compact_old")
    // Hadoop FS signals failure by RETURN VALUE: an unchecked false from
    // either rename could nest a directory inside another (doubling
    // rows) or lose track of the live layout — both must abort loudly
    if (!fs.exists(p) && fs.exists(tmpP)) {
      // resuming a crash between a previous run's two renames: the
      // pre-crash layout is already aside at _compact_old and the staged
      // copy is complete — promote it with the one remaining rename
      // (restaging is impossible here for callers that read the live dir)
      require(fs.rename(tmpP, p),
        s"compaction resume failed: could not rename $tmp -> $dir")
    } else {
      write(tmp)
      if (fs.exists(p)) {
        if (fs.exists(old)) require(fs.delete(old, true),
          s"compaction aborted: stale $old exists and could not be deleted")
        require(fs.rename(p, old),
          s"compaction aborted: could not move $dir aside (layout untouched; " +
            s"staged copy at $tmp)")
      }
      // (p absent here = resuming a mid-swap crash whose stale staged
      // copy the caller dropped to restage — the aside copy already
      // holds the pre-crash layout, so only the promote rename remains)
      require(fs.rename(tmpP, p),
        s"compaction interrupted between renames: RE-RUN to recover (the " +
          s"rerun completes the single $tmp -> $dir rename); previous " +
          s"layout preserved at $old")
    }
    if (fs.exists(old)) require(fs.delete(old, true),
      s"compaction succeeded but could not delete $old — delete it manually")
  }

  /** Parquet data files under `dir`, recursively — the fragmentation
    * measure compaction exists to reduce.
    */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }
}
