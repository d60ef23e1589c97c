package graft

import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

/** Throughput bench for the COMPOSED streaming ingest
  * ([[graft.streaming.Streams.curationIngestSink]]): standing indexes
  * built from the %4==0 slice (exact keys, 8-grams, IVF cells), then
  * the remaining (doc, vector) rows stream through the three-rung gate
  * in fixed-size micro-batches. Reports per-batch seconds and rows/s —
  * the number a capacity plan needs, since each batch pays the same
  * screen structure regardless of corpus size (the standing side is
  * Bloom/cell-pruned, never rescanned wholesale).
  *
  * Three protocol extensions beyond the steady state:
  *
  *  - **`SPARK_GRAFT_REPL` > 1**: the [[PipelineBench]] SALTED-replica
  *    protocol as a stream — replicas are distinct at the exact rung
  *    but every interior 8-gram is cross-replica duplicated, so
  *    replica-0 batches are the novel-heavy regime and every later
  *    batch is the excise-everything worst case. Each replica carries
  *    its base doc's embedding (`doc_id % stride`), so the few rows
  *    that survive rung 2 meet their base at cosine 1 in rung 3.
  *  - **Kill-and-resume** ([[BenchHarness.streamProtocol]]): the query
  *    is STOPPED at the halfway batch and a fresh sink resumes from the
  *    checkpoint — the recorded `resume_s` is recovery + that batch
  *    (centroid reload, offset log replay, the batch itself).
  *  - **Convergence**: the final batch is RE-SENT verbatim (nulls and
  *    whitespace-only rows excluded — those pass the gate by
  *    contract); the output row count must not move. Asserted
  *    in-bench, recorded as `replay_s` / `replay_added`.
  *
  * The [[ScaleBench]] family `stream_ingest`; recorded in BASELINE.md's
  * streaming-ingest section.
  */
object StreamIngestBench {
  def run(ctx: ScaleBench.Ctx): ScaleBench.Record = {
    val spark = ctx.spark
    import spark.implicits._
    val batchRows = BenchHarness.env("SPARK_GRAFT_BATCH_ROWS", "1250").toInt
    val repl = BenchHarness.env("SPARK_GRAFT_REPL", "1").toInt

    val wd = ctx.tmp
    val (keyIdx, gramIdx, ivfIdx) = (s"$wd/keys", s"$wd/grams", s"$wd/ivf")

    val docs =
      if (repl <= 1)
        Tables.load(spark, ctx.sfDir, "documents").select(col("doc_id"), col("text"))
      else BenchHarness.replicatedDocs(spark, ctx.sfDir, repl, ctx.cpus, salt = true)
    val embs = Tables.load(spark, ctx.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val standing = docs.filter(col("doc_id") % 4 === 0)
    graft.ops.Dedup.buildExactKeyIndex(standing, "text", keyIdx)
    graft.ops.Dedup.buildGramIndex(standing, "text", gramIdx, w = 8)
    graft.ops.Similarity.buildIvfIndex(
      embs.join(standing.select((col("doc_id") % BenchHarness.ReplicaStride)
        .as("vec_id")), Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", ivfIdx, nCells = 16)

    // the incoming rows: batch slice, each doc carrying its BASE doc's
    // vector (replicas share the base embedding — the rung-3 dup case)
    val incoming = docs.filter(col("doc_id") % 4 =!= 0)
      .withColumn("_base", col("doc_id") % BenchHarness.ReplicaStride)
      .join(embs.withColumnRenamed("vec_id", "_base"), Seq("_base"), "left")
      .select(col("doc_id"), col("text"), col("embedding"))
      .as[(Long, String, Array[Float])]
      .collect().sortBy(_._1)

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Float])]
    val batches = incoming.grouped(batchRows).toVector
    // convergence: the last batch re-sent verbatim must admit NOTHING
    // (null/whitespace rows excluded — they pass through by contract)
    val replayRows = batches.last
      .filter(r => r._2 != null && r._2.trim.nonEmpty)
    val r = BenchHarness.streamProtocol[Array[(Long, String, Array[Float])]](
      batches,
      () => graft.streaming.Streams.curationIngestSink(spark,
        mem.toDF().toDF("doc_id", "text", "embedding"),
        "doc_id", "text", "embedding",
        keyIdx, gramIdx, ivfIdx, s"$wd/out", s"$wd/ckpt"),
      rows => mem.addData(rows.toIndexedSeq),
      () => mem.addData(replayRows.toIndexedSeq),
      () => spark.read.parquet(s"$wd/out").count(), "re-sent batch")

    val totalRows = incoming.length
    val totalSec = r.batchS.sum
    ("bench" -> "stream_ingest") ~ ("repl" -> repl) ~
      ("batch_rows" -> batchRows) ~
      ("n_batches" -> batches.size) ~ ("rows_in" -> totalRows) ~
      ("rows_admitted" -> (r.outRows + r.replayAdded)) ~
      ("total_s" -> totalSec) ~ ("rows_per_s" -> totalRows / totalSec) ~
      r.fields
  }
}
