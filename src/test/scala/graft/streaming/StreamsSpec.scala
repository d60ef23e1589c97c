package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window agg matches the batch date_trunc twin (q20 shape)") {
    val events = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0),
      (ts("2024-01-01 10:30:00"), "view", 8.0))
      .toDF("ts", "event_type", "value")
    val windowed = Streams.tumblingCounts(events, "ts", "1 hour", "1 hour")
      .orderBy("h", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    val batch = events
      .groupBy(date_trunc("hour", $"ts").as("h"), $"event_type")
      .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("sv"))
      .orderBy("h", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(windowed == batch)
    assert(windowed == Seq(
      (ts("2024-01-01 10:00:00"), "click", 2L, 3.0),
      (ts("2024-01-01 10:00:00"), "view", 1L, 8.0),
      (ts("2024-01-01 11:00:00"), "click", 1L, 4.0)))
  }

  test("session windows agree with the batch Sessionize twin (q38 shape)") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2L, 2.0),
      (1L, ts("2024-01-01 11:30:00"), 3L, 3.0))
      .toDF("user_id", "ts", "event_id", "value")
    val sessions = Streams.sessionAgg(events, "ts", "user_id")
      .orderBy("sess_start")
      .select("n_events", "sval").as[(Long, Double)].collect().toSeq
    val batch = graft.ops.Sessionize(events, "user_id", "ts", "event_id", "value")
      .orderBy("sess")
      .select("n_events", "sval").as[(Long, Double)].collect().toSeq
    assert(sessions == batch)
    assert(sessions == Seq((2L, 3.0), (1L, 3.0)))
  }

  test("true streaming execution: MemoryStream through tumbling agg") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.tumblingCounts(streamDf, "ts", "1 hour", "10 minutes")
    val q = agg.writeStream
      .format("memory")
      .queryName("tumbling_out")
      .outputMode("append")
      .start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:15:00"), "click", 2.0))
      q.processAllAvailable()
      // advance the watermark past the first window so it finalizes
      mem.addData((ts("2024-01-01 12:00:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .as[(Timestamp, String, Long, Double)].collect().toSeq
      assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("stream-static enrich joins each micro-batch against the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val out = Streams.enrich(mem.toDF().toDF("user_id", "value"), dim, Seq("user_id"))
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .as[(Long, Double, Option[String])].collect().toSet
      assert(rows == Set((1L, 10.0, Some("gold")), (2L, 20.0, Some("silver")),
        (3L, 30.0, None)), "left enrich keeps unmatched stream rows")
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per key within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val deduped = Streams.dedupStream(
      mem.toDF().toDF("ts", "content_hash", "value"), "ts", "10 minutes",
      Seq("content_hash"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), "aaa", 1.0),
        (ts("2024-01-01 10:01:00"), "aaa", 2.0), // dup within watermark
        (ts("2024-01-01 10:02:00"), "bbb", 3.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:03:00"), "aaa", 4.0)) // still a dup
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .as[(Timestamp, String, Double)].collect().toSeq
      assert(rows.map(_._2).sorted == Seq("aaa", "bbb"),
        s"exactly one row per key, got $rows")
      assert(rows.find(_._2 == "aaa").get._3 == 1.0, "first occurrence wins")
    } finally q.stop()
  }

  test("streaming near-dup screen drops reordered-token variants within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val screened = Streams.nearDupScreen(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes", "text")
    val q = screened.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), 1L, "the quick brown fox jumps"),
        // token-reordered variant: SimHash's per-token majority vote is
        // order-independent, so this is the same fingerprint — a near-dup
        (ts("2024-01-01 10:01:00"), 2L, "quick the brown fox jumps"),
        (ts("2024-01-01 10:02:00"), 3L, "completely different content here"))
      q.processAllAvailable()
      // a later near-identical arrival, still inside the watermark horizon
      mem.addData((ts("2024-01-01 10:03:00"), 4L, "brown fox the quick jumps"))
      q.processAllAvailable()
      val rows = spark.table("neardup_out")
        .as[(Timestamp, Long, String)].collect().toSeq
      assert(rows.map(_._2).sorted == Seq(1L, 3L),
        s"only the first of each fingerprint survives, got $rows")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped (Streams.tumblingCounts pin)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumblingCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "ts", "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 10:05:00"), "click", 1.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 12:00:00"), "click", 1.0)) // watermark -> 11:50
      q.processAllAvailable()
      val before = spark.table("late_out")
        .as[(Timestamp, String, Long, Double)].collect().toSeq
      assert(before.contains((ts("2024-01-01 10:00:00"), "click", 1L, 1.0)),
        "10:00 window must finalize once the watermark passes it")
      // a row for the finalized 10:00 window, far behind the watermark
      mem.addData((ts("2024-01-01 10:20:00"), "click", 100.0))
      mem.addData((ts("2024-01-01 13:00:00"), "click", 1.0))
      q.processAllAvailable()
      val after = spark.table("late_out")
        .as[(Timestamp, String, Long, Double)].collect().toSeq
      assert(after.count(_._1 == ts("2024-01-01 10:00:00")) == 1,
        "finalized window must not re-emit")
      assert(after.contains((ts("2024-01-01 10:00:00"), "click", 1L, 1.0)),
        "late row must not mutate the finalized window")
      assert(!after.exists(_._4 >= 100.0), "the late row's value must be dropped")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: in-batch gap splits + timeout-driven close") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionizeWithState(spark,
      mem.toDF().toDF("user_id", "ts", "value"), gapMinutes = 30, watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("state_sess_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:10:00"), 2.0), // same session (10-min gap)
        (1L, ts("2024-01-01 11:30:00"), 3.0)) // 80-min gap -> closes session 1
      q.processAllAvailable()
      // user 2 far ahead: watermark -> 13:00, past session 2's 12:00
      // timeout, so the held session must emit and its state evict
      mem.addData((2L, ts("2024-01-01 14:00:00"), 9.0))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 14:00:01"), 0.0)) // extra trigger to fire the timeout
      q.processAllAvailable()
      val rows = spark.table("state_sess_out")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      assert(rows.contains((1L, ts("2024-01-01 10:00:00"), 2L, 3.0)),
        s"in-batch gap split must close session 1, got $rows")
      assert(rows.contains((1L, ts("2024-01-01 11:30:00"), 1L, 3.0)),
        s"watermark-driven timeout must close session 2, got $rows")
      // matches the batch Sessionize twin on the same events
      val batch = graft.ops.Sessionize(
        Seq((1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
            (1L, ts("2024-01-01 10:10:00"), 2L, 2.0),
            (1L, ts("2024-01-01 11:30:00"), 3L, 3.0))
          .toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value")
        .select("n_events", "sval").as[(Long, Double)].collect().toSet
      assert(rows.filter(_._1 == 1L).map(r => (r._3, r._4)) == batch)
    } finally q.stop()
  }

  test("stateful sessionization: late gap-separated events do not corrupt the held session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionizeWithState(spark,
      mem.toDF().toDF("user_id", "ts", "value"), gapMinutes = 30, watermark = "3 hours")
    val q = out.writeStream.format("memory").queryName("state_sess_late")
      .outputMode("append").start()
    try {
      // batch 1: the held session starts at 12:00
      mem.addData((1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event at 10:00 — 120 min before the held start,
      // far beyond the 30-min gap. It must become its own session, and
      // the held session's start must stay 12:00. A second late event at
      // 10:10 chains with the first (late events chain among themselves).
      mem.addData((1L, ts("2024-01-01 10:00:00"), 2.0),
        (1L, ts("2024-01-01 10:10:00"), 4.0))
      q.processAllAvailable()
      // advance the watermark (3h behind) far enough to flush everything
      mem.addData((2L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-02 00:00:01"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("state_sess_late")
        .as[(Long, Timestamp, Long, Double)].collect().filter(_._1 == 1L).toSet
      assert(rows == Set(
        (1L, ts("2024-01-01 10:00:00"), 2L, 6.0),
        (1L, ts("2024-01-01 12:00:00"), 1L, 1.0)),
        s"late chain is its own session, held session uncorrupted; got $rows")
      // a late event WITHIN the gap of the held session must merge into it
      val mem2 = MemoryStream[(Long, Timestamp, Double)]
      val out2 = Streams.sessionizeWithState(spark,
        mem2.toDF().toDF("user_id", "ts", "value"), gapMinutes = 30, watermark = "3 hours")
      val q2 = out2.writeStream.format("memory").queryName("state_sess_late2")
        .outputMode("append").start()
      try {
        mem2.addData((1L, ts("2024-01-01 12:00:00"), 1.0))
        q2.processAllAvailable()
        mem2.addData((1L, ts("2024-01-01 11:45:00"), 2.0)) // within 30-min gap
        q2.processAllAvailable()
        mem2.addData((2L, ts("2024-01-02 00:00:00"), 0.0))
        q2.processAllAvailable()
        mem2.addData((2L, ts("2024-01-02 00:00:01"), 0.0))
        q2.processAllAvailable()
        val rows2 = spark.table("state_sess_late2")
          .as[(Long, Timestamp, Long, Double)].collect().filter(_._1 == 1L).toSet
        assert(rows2 == Set((1L, ts("2024-01-01 11:45:00"), 2L, 3.0)),
          s"in-gap late event merges and extends the start backward; got $rows2")
      } finally q2.stop()
    } finally q.stop()
  }

  test("stateful sessionization: in-watermark late events merge into HELD sessions across batches") {
    // the round-4 advice scenario: a session must not be emitted before the
    // watermark passes its close, so a cross-batch late event that belongs
    // to it MERGES instead of spawning a split/duplicate session
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.sessionizeWithState(spark,
      mem.toDF().toDF("user_id", "ts", "value"), gapMinutes = 30, watermark = "3 hours")
    val q = out.writeStream.format("memory").queryName("state_sess_merge")
      .outputMode("append").start()
    try {
      // batch 1: two gap-separated sessions — BOTH must be held, not emitted
      mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 11:30:00"), 3.0))
      q.processAllAvailable()
      assert(spark.table("state_sess_merge").count() == 0,
        "nothing may emit before the watermark passes a session's close")
      // batch 2: a late event INSIDE the first held session's gap window —
      // it must merge into [10:00], not become its own session
      mem.addData((1L, ts("2024-01-01 10:10:00"), 2.0))
      q.processAllAvailable()
      // advance the watermark past both sessions' closes, then trigger the
      // timeout
      mem.addData((2L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-02 00:00:01"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("state_sess_merge")
        .as[(Long, Timestamp, Long, Double)].collect().filter(_._1 == 1L).toSet
      assert(rows == Set(
        (1L, ts("2024-01-01 10:00:00"), 2L, 3.0),
        (1L, ts("2024-01-01 11:30:00"), 1L, 3.0)),
        s"late event merges into the held session; got $rows")
      // exact agreement with the batch twin over the same events
      val batch = graft.ops.Sessionize(
        Seq((1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
            (1L, ts("2024-01-01 11:30:00"), 2L, 3.0),
            (1L, ts("2024-01-01 10:10:00"), 3L, 2.0))
          .toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value")
        .select("n_events", "sval").as[(Long, Double)].collect().toSet
      assert(rows.map(r => (r._3, r._4)) == batch,
        "streaming must match batch sessionization when all events are in-watermark")
    } finally q.stop()
  }

  test("streaming LSH index sink: bucket-partitioned appends, probed by lshIndexTopK") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(7)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val query = vec()
    val neighbors = (1 to 5).map(i =>
      (i.toLong, query.map(_ + (rng.nextDouble() - 0.5) * 0.001)))
    val noise = (6 until 60).map(i => (i.toLong, vec()))
    val dir = tmpDir("graft_lshsink_")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.lshIndexSink(
      mem.toDF().toDF("vec_id", "embedding"), "embedding",
      dir, s"$dir/ckpt", dim = 16, nBits = 4)
    try {
      mem.addData(((0L, query) +: neighbors) ++ noise: _*)
      // null/empty vectors must be refused at the door, same as the batch
      // builders — unguarded they'd land in __HIVE_DEFAULT_PARTITION__,
      // invisible to every probe
      mem.addData((997L, null.asInstanceOf[Seq[Double]]), (998L, Seq.empty[Double]))
      q.processAllAvailable()
    } finally q.stop()
    // stream-appended rows land in the same 'b'-prefixed partitions the
    // batch builder writes, so the same probe path works unchanged
    val allDirs = new java.io.File(s"$dir/data").list()
    val dirs = allDirs.filter(_.startsWith("bucket=b"))
    assert(dirs.nonEmpty, "expected bucket=bXXXX partition dirs")
    assert(!allDirs.exists(_.contains("HIVE_DEFAULT_PARTITION")),
      s"null/empty vectors must not create a default partition: ${allDirs.toList}")
    assert(spark.read.parquet(s"$dir/data").count() == 60,
      "the null and empty vectors must be dropped")
    val got = graft.ops.Similarity.lshIndexTopK(spark, dir, "vec_id", "embedding",
        query.toArray, dim = 16, k = 6, nBits = 4)
      .select("vec_id").as[Long].collect().toSet - 0L
    val hits = (got & (1L to 5L).toSet).size
    assert(hits >= 4, s"planted near-identical neighbors must be found, got $got")
  }

  test("streaming IVF index sink: appended rows join the batch-built layout and are probed") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(13)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val query = vec()
    // batch-build the index from an initial corpus (no planted neighbors)
    val initial = (100L until 160L).map(i => (i, vec()))
    val dir = tmpDir("graft_ivfsink_")
    graft.ops.Similarity.buildIvfIndex(
      initial.toDF("vec_id", "embedding"), "vec_id", "embedding", dir, nCells = 8)
    // stream in the query's near-identical neighbors afterwards
    val neighbors = (1L to 5L).map(i =>
      (i, query.map(_ + (rng.nextDouble() - 0.5) * 0.001)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfIndexSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "embedding", dir, s"$dir/ckpt")
    try {
      mem.addData(neighbors: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the streaming sink's _spark_metadata log must NOT hide the
    // batch-built corpus from subsequent reads — both populations count
    val total = spark.read.parquet(s"$dir/data").count()
    assert(total == 65, s"batch (60) + streamed (5) rows must all be visible, got $total")
    // probes see the streamed rows: all five planted neighbors surface
    val got = graft.ops.Similarity.ivfIndexTopK(spark, dir, "vec_id", "embedding",
        query.toArray, k = 5, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got == (1L to 5L).toSet,
      s"streamed near-identical neighbors must dominate top-5, got $got")
  }

  test("driftCardSink: matched batch scores ~0 PSI, a shifted batch is loud and keeps the vanished bucket") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_distdrift_")
    // frozen reference: 60% en / 40% de
    val ref = ((1 to 60).map(i => (i.toLong, "en")) ++
      (61 to 100).map(i => (i.toLong, "de"))).toDF("id", "lang")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.driftCardSink(spark, mem.toDF().toDF("id", "lang"),
      "lang", ref, s"$dir/ckpt", s"$dir/card")
    try {
      // batch 0 mirrors the reference mix exactly
      mem.addData((1 to 6).map(i => (100L + i, "en")) ++
        (1 to 4).map(i => (200L + i, "de")): _*)
      q.processAllAvailable()
      // batch 1: all-en — de vanished from the feed
      mem.addData((1 to 10).map(i => (300L + i, "en")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val card = spark.read.parquet(s"$dir/card")
      .select("batch_id", "lang", "ref_n", "cur_n", "psi")
      .as[(Long, String, Long, Long, Double)].collect()
    val b0 = card.filter(_._1 == 0L).map(r => r._2 -> r._5).toMap
    assert(b0 == Map("en" -> 0.0, "de" -> 0.0),
      s"a batch matching the frozen mix must score zero PSI: $b0")
    val b1 = card.filter(_._1 == 1L).map(r => r._2 -> r).toMap
    assert(b1.keySet == Set("en", "de"),
      "the vanished bucket must stay on the card (outer join from the reference side)")
    assert(b1("de")._4 == 0L && b1("de")._5 > b1("en")._5,
      s"the vanished bucket dominates: $b1")
    assert(b1("en")._5 > 0.1, s"over-representation is visible: ${b1("en")}")
    assert(b1.values.map(_._5).sum > 0.25,
      "the per-batch PSI sum crosses the page-me line for a wholesale shift")
  }

  test("driftCardSink composes with fixedBand: numeric length drift watched per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_numdrift_")
    def banded(df: org.apache.spark.sql.DataFrame) =
      df.select(graft.ops.Analytics
        .fixedBand(col("n"), 0.0, 100.0, 4).as("band"))
    // reference: uniform across the four bands
    val ref = (0 until 40).map(i => (i.toLong, (i % 4) * 25.0 + 5.0))
      .toDF("id", "n")
    val mem = MemoryStream[(Long, Double)]
    val q = Streams.driftCardSink(spark,
      banded(mem.toDF().toDF("id", "n")), "band", banded(ref),
      s"$dir/ckpt", s"$dir/card")
    try {
      // every arriving doc is short (band 0): three bands vanish
      mem.addData((0 until 10).map(i => (100L + i, 3.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val card = spark.read.parquet(s"$dir/card")
      .select("band", "cur_n", "psi")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(card.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L),
      "all reference bands stay visible on the card")
    assert(card.head._2 == 10L && card.tail.forall(_._2 == 0L))
    assert(card.map(_._3).sum > 0.25,
      "a wholesale shift to short docs crosses the page line")
  }

  test("ivfDriftCardSink: one card row per batch, retention decays as shifted appends accumulate") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(23)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val dir = tmpDir("graft_driftcard_")
    val card = s"$dir/card"
    // kmeansIters > 0 so the audit's refit follows the data MASS (the
    // meta-recorded Lloyd budget): under a pure md5 re-seed (ki=0) the
    // gauge jumps whenever a new id enters the seed set — legitimate,
    // but the curve a deployment watches is the refined one
    graft.ops.Similarity.buildIvfIndex(
      (0L until 80L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/idx", nCells = 8, kmeansIters = 2)
    // shifted population: a region the frozen centroids never saw. Ids
    // are chosen so their md5 sorts AFTER every base seed — the refit's
    // seed set stays fixed across batches, so the card shows the
    // Lloyd-refined centroids DRAGGING toward the shifted mass (smooth
    // decay) rather than the wholesale label permutation a seed-set
    // change legitimately causes (that jumpier mode is q111's spec)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seedBoundary = (0L until 80L).map(i => md5hex(i.toString)).sorted.apply(7)
    val safeIds = Iterator.from(1000)
      .filter(i => md5hex(i.toString) > seedBoundary).take(300).toVector
    def shifted(slice: Range): Seq[(Long, Seq[Double])] =
      slice.map(k => (safeIds(k).toLong,
        Seq.fill(16)(rng.nextDouble() * 0.3 + 1.0)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfDriftCardSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt", card)
    try {
      mem.addData(shifted(0 until 40): _*)
      q.processAllAvailable()
      mem.addData(shifted(40 until 100): _*)
      q.processAllAvailable()
      mem.addData(shifted(100 until 180): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(card)
      .orderBy(col("batch_id"))
      .select("batch_id", "n_appended", "n_stored", "n_stayed", "retention")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 3, s"one card row per completed batch: ${rows.toList}")
    assert(rows.map(_._2).toSeq == Seq(40L, 60L, 80L))
    // stored counts track the grown layout
    assert(rows.map(_._3).toSeq == Seq(120L, 180L, 260L))
    // the curve: each batch of shifted rows pulls the refined refit
    // further from the frozen carve — the card shows net decay
    assert(rows(0)._5 < 1.0, s"first shifted batch must already drift: ${rows(0)}")
    assert(rows(2)._5 < rows(0)._5,
      s"retention must show net decay across the card: ${rows.map(_._5).toList}")
    // the card is consistent with polling the audit directly now
    val direct = graft.ops.Similarity.ivfRebuildDrift(spark, s"$dir/idx",
        "vec_id", "embedding")
      .agg(sum(col("n_stayed")).cast("double") / sum(col("n_stored")))
      .as[Double].head()
    assert(math.abs(math.rint(direct * 1e6) / 1e6 - rows(2)._5) < 1e-9)

    // IVF-PQ layout: the card sink appends through the index sink's own
    // residual-aware encode and audits via codeRebuildDrift
    graft.ops.Similarity.buildIvfPqIndex(
      (0L until 60L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/pqidx", nCells = 4, m = 4, nCodes = 8,
      residual = true)
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val q2 = Streams.ivfDriftCardSink(spark,
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/pqidx", s"$dir/ckpt2", s"$dir/card2")
    try {
      mem2.addData(shifted(200 until 220): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val pqCard = spark.read.parquet(s"$dir/card2")
      .select("n_appended", "n_stored").as[(Long, Long)].collect()
    assert(pqCard.toSeq == Seq((20L, 80L)), s"${pqCard.toList}")
    // the appended rows landed as CODES (the layout's own storage)
    val data = spark.read.parquet(s"$dir/pqidx/data")
    assert(data.count() == 80 && data.columns.toSet == Set("vec_id", "codes", "cell"))
  }

  test("ivfDriftCardSink reads and places each micro-batch once") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(31)
    def vec(): Seq[Double] = Seq.fill(8)(rng.nextDouble() - 0.5)
    val dir = tmpDir("graft_driftonce_")
    graft.ops.Similarity.buildIvfIndex(
      (0L until 40L).map(i => (i, vec())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/idx", nCells = 4)
    // every evaluation of the stream's rows passes through the UDF, so
    // the accumulator counts how often the sink reads the batch
    val evals = spark.sparkContext.longAccumulator("drift_card_reads")
    val seen = udf { (v: Seq[Double]) => evals.add(1); v }.asNondeterministic()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfDriftCardSink(spark,
      mem.toDF().select($"_1".as("vec_id"), seen($"_2").as("embedding")),
      "vec_id", "embedding", s"$dir/idx", s"$dir/ckpt", s"$dir/card")
    try {
      mem.addData((100L until 125L).map(i => (i, vec())): _*)
      q.processAllAvailable()
    } finally q.stop()
    val card = spark.read.parquet(s"$dir/card").select("n_appended").as[Long].collect()
    assert(card.toSeq == Seq(25L))
    assert(evals.value == 25L, s"25 rows read ${evals.value} times")
  }

  test("packTokensStream: completed sequences equal the batch twin; partial carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    val bpe = graft.functions.TokenCounters.tinyBpe
    val batch1 = Seq(
      (1L, "A", "table data row line"),
      (2L, "A", "string integer"),
      (10L, "B", "alpha beta"))
    val batch2 = Seq(
      (3L, "A", "query where select"),
      (11L, "B", "gamma delta epsilon zeta"),
      (12L, "B", null))
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.packTokensStream(spark,
        mem.toDF().toDF("doc_id", "shard", "text"), seqLen = 4, bpe)
      .writeStream.format("memory").queryName("ptok")
      .outputMode("append").start()
    var after1 = 0L
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      after1 = spark.table("ptok").count()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ptok")
      .orderBy(col("shard"), col("seq_id"))
      .select("shard", "seq_id", "token_ids", "n_tokens", "doc_starts")
      .collect()
    // the batch twin over the SAME docs in the same order: the stream
    // must emit exactly its full sequences; each shard's short last
    // sequence stays in state (never emitted)
    val all = (batch1 ++ batch2).toDF("doc_id", "shard", "text")
    val expect = graft.ops.Packing.packTokens(all, "doc_id", "text",
        "shard", 4, bpe)
      .where(size(col("token_ids")) === 4)
      .orderBy(col("shard"), col("seq_id"))
      .select("shard", "seq_id", "token_ids", "n_tokens", "doc_starts")
      .collect()
    assert(got.map(_.toString).toSeq == expect.map(_.toString).toSeq,
      s"stream: ${got.toList}\nbatch: ${expect.toList}")
    assert(got.nonEmpty, "the fixture must complete at least one sequence")
    // the cross-batch straddle actually happened: batch 2 emitted
    // sequences that batch 1's tokens began
    assert(after1 < got.length,
      "batch 2 must complete sequences begun in batch 1")
  }

  test("streaming funnel: advances match the batch funnel, O(1) state, no rewind") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      (2L, ts("2024-01-01 09:00:00"), "click"),    // before view: no credit
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "click"),    // same instant: not after
      (4L, ts("2024-01-01 10:00:00"), "purchase")) // skipped steps: no stage
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val progress = Streams.funnelStream(spark,
      mem.toDF().toDF("user_id", "ts", "event_type"),
      Seq("view", "click", "purchase"))
    val q = progress.writeStream.format("memory")
      .queryName("funnel_progress").outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      // a later batch replays user 2's early click (ts before their view):
      // the stream must not advance them retroactively
      mem.addData((2L, ts("2024-01-01 09:30:00"), "click"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("funnel_progress")
      .select("user_id", "stage").as[(Long, Int)].collect().toSet
    // stage counts == the batch funnel on the same fixture
    val batch = graft.ops.Analytics.funnel(
        fixture.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .select("step", "n_users").as[(Int, Long)].collect().toMap
    val streamed = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert((1 to 3).forall(k => streamed.getOrElse(k, 0L) == batch(k)),
      s"stream stages $streamed must match batch $batch")
    assert(rows == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1)))
  }

  test("ingest gate: within-batch dedup, quality floor, corpus screen, cross-batch admission") {
    implicit val sqlCtx = spark.sqlContext
    val goodText = "the quick brown fox jumps over a lazy dog and runs to " +
      "the river bank where it finds a quiet place in the shade today"
    val corpus = Seq((1L, "standing corpus content one")).toDF("doc_id", "text")
    val dir = tmpDir("graft_ingest_")
    graft.ops.Dedup.buildExactKeyIndex(corpus, "text", dir)
    val mem = MemoryStream[(Long, String)]
    val gateMetrics = new RungMetrics()
    val q = Streams.ingestGate(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dir, s"$dir/out", s"$dir/ckpt", minQuality = 0.3,
      metrics = Some(gateMetrics))
    try {
      mem.addData(
        (10L, goodText),                      // fresh, good -> admitted
        (11L, "standing corpus content one"), // corpus dup -> dropped
        (12L, goodText),                      // within-batch dup of 10 -> dropped
        (13L, "zz zz zz zz"))                 // low quality -> dropped
      q.processAllAvailable()
      // batch 2 re-sends 10's text: batch 1's admission screens it out
      mem.addData((20L, goodText), (21L, "another fresh well formed text " +
        "with many different words that reads like a normal document " +
        "about rivers and shade and dogs in it"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(10L, 21L),
      s"only the fresh good docs may pass the gate, got $out")
    assert(gateMetrics.batches.map { case (b, c) =>
        (b, c("rows_in"), c("out_rows")) } == Seq((0L, 4L, 1L), (1L, 2L, 1L)),
      s"gate admission metrics: ${gateMetrics.batches}")
    // admitted keys joined the index: corpus + 2 admissions
    assert(spark.read.parquet(s"$dir/keys").count() == 3)
  }

  test("streaming exact-key index sink: streamed keys screen later batches, Bloom stays no-false-negative") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (2L, "standing corpus document one"),
      (4L, "standing corpus document two")).toDF("doc_id", "text")
    val dir = tmpDir("graft_keysink_")
    graft.ops.Dedup.buildExactKeyIndex(corpus, "text", dir)
    // stream in two admitted docs (plus a null to refuse)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.exactKeyIndexSink(spark,
      mem.toDF().toDF("doc_id", "text"), "text", dir, s"$dir/ckpt")
    try {
      mem.addData((10L, "streamed admission alpha"), (11L, "streamed admission beta"),
        (12L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$dir/keys").count() == 4,
      "two built + two streamed keys (null refused)")
    // a later batch duplicating BOTH populations is screened by both:
    // a stale (non-merged) Bloom would wave the streamed dup through
    val batch = Seq(
      (20L, "standing corpus document one"),  // dup of built corpus
      (21L, "streamed admission alpha"),      // dup of streamed admission
      (22L, "genuinely new content")).toDF("doc_id", "text")
    val admitted = graft.ops.Dedup.exactDedupAgainstIndex(spark, batch, "text", dir)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(22L),
      s"dups of built AND streamed keys must be dropped, got $admitted")
  }

  test("streaming web intake: gate + within-batch and cross-batch dedup, output-then-keys") {
    implicit val sqlCtx = spark.sqlContext
    val body = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass"
    def page(b: String) = s"<html><body><h1>Hdr</h1><p>$b</p></body></html>"
    val dir = tmpDir("graft_webintake_")
    // standing corpus: the normalized form of `body`'s page already seen
    graft.ops.Dedup.buildExactKeyIndex(
      Seq((1L, s"Hdr $body")).toDF("doc_id", "norm_text"),
      "norm_text", dir)
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    val outPath = s"$dir/out"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.webIntakeSink(spark,
      mem.toDF().toDF("doc_id", "html"), "doc_id", "html",
      outPath, dir, s"$dir/ckpt", th)
    try {
      // 10 duplicates the STANDING corpus (drops); 11/13 duplicate each
      // other within the batch (min-id keeps, n_dupes 2); 12 fails the
      // gopher gate; 14 is novel
      mem.addData(
        (10L, page(body)),
        (11L, page(body + " and then the chase was finally over")),
        (12L, page("# # # #")),
        (13L, page(body + " and then the chase was finally over")),
        (14L, page(body + " until dusk settled over the far fields")))
      q.processAllAvailable()
      val out1 = spark.read.parquet(outPath)
        .select("doc_id", "n_dupes").as[(Long, Long)].collect().toMap
      assert(out1.keySet == Set(11L, 14L), s"${out1.keySet}")
      assert(out1(11L) == 2L, "within-batch pair collapses with multiplicity")
      // batch 2: 20 duplicates batch 1's admission (cross-batch key
      // screen); 21 is novel
      mem.addData(
        (20L, page(body + " until dusk settled over the far fields")),
        (21L, page(body + " when morning broke across the valley floor")))
      q.processAllAvailable()
      val out2 = spark.read.parquet(outPath)
        .select("doc_id").as[Long].collect().toSet
      assert(out2 == Set(11L, 14L, 21L),
        s"cross-batch duplicate must be screened: $out2")
    } finally q.stop()
    // parity: the batch op over batch 1 (screened against the ORIGINAL
    // standing key) produces exactly batch 1's admissions
    val batch1 = Seq(
      (10L, page(body)),
      (11L, page(body + " and then the chase was finally over")),
      (12L, page("# # # #")),
      (13L, page(body + " and then the chase was finally over")),
      (14L, page(body + " until dusk settled over the far fields")))
      .toDF("doc_id", "html")
    val viaOps = graft.ops.Web.intake(batch1, "doc_id", "html", th)
      .where(col("norm_text") =!= s"Hdr $body")
      .select("doc_id").as[Long].collect().toSet
    assert(viaOps == Set(11L, 14L))
  }

  test("robots gate on the streaming twins: header and meta opt-outs never reach intake; digests still admit") {
    import graft.sources.{WarcReader, WarcWriter}
    import graft.ops.Dedup
    val body = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass"
    val dir = tmpDir("graft_robotsstream_")
    val crawl = s"$dir/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    WarcWriter.write(spark, s"$crawl/shard-1.warc.gz", Iterator(
      WarcWriter.responseRecord("https://ex.com/meta", "2026-01-01T00:00:00Z",
        "<urn:r:1>", "<html><head><meta name=\"robots\" content=\"noindex\">" +
          s"</head><body><p>$body meta page</p></body></html>",
        "utf-8", declareInHeader = true),
      WarcWriter.responseRecord("https://ex.com/hdr", "2026-01-01T00:00:00Z",
        "<urn:r:2>", s"<html><body><p>$body header page</p></body></html>",
        "utf-8", declareInHeader = true,
        httpHeaders = Seq("X-Robots-Tag" -> "noindex")),
      WarcWriter.responseRecord("https://ex.com/ok", "2026-01-01T00:00:00Z",
        "<urn:r:3>", s"<html><body><p>$body plain page</p></body></html>",
        "utf-8", declareInHeader = true)))
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "norm_text"), "norm_text",
      s"$dir/keys", expectedKeys = 100L)
    Dedup.buildKeyIndex(
      Seq.empty[String].toDF("payload_digest"), "payload_digest",
      s"$dir/digests", expectedKeys = 100L)
    val q = Streams.warcIngestSink(spark, crawl, s"$dir/out", s"$dir/keys",
      s"$dir/ckpt", th, digestIndexPath = Some(s"$dir/digests"),
      robotsGate = true)
    try q.processAllAvailable() finally q.stop()
    val admitted = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[String].collect().toSet
    assert(admitted == Set("<urn:r:3>"),
      s"only the plain page may train: $admitted")
    // the seen-bytes digest index admits ALL fetched pages (incl. the
    // opted-out ones) — re-fetches of a noindex page must stay one
    // Bloom probe, never a transcode
    assert(spark.read.parquet(s"$dir/digests/keys").count() == 3)
  }

  test("byLanguage on crawlTokensSink: the stream routes the mixture on the q33 decision, matching curateTokensByLanguage") {
    import graft.sources.{WarcReader, WarcWriter}
    import graft.ops.{Curation, Dedup, Web}
    // an English page (stopword hits) and a stopword-free one ('und')
    val en = "the quick brown fox jumped over the lazy dog and it is " +
      "a fine day to run far in the open field with the pack"
    val und = "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii " +
      "hh gg ff ee dd cc bb aa zz yy xx ww"
    def page(b: String) = s"<html><body><p>$b</p></body></html>"
    val dir = tmpDir("graft_langstream_")
    val crawl = s"$dir/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    WarcWriter.write(spark, s"$crawl/shard-1.warc.gz", Iterator(
      WarcWriter.responseRecord("https://alpha.com/en1",
        "2026-01-01T00:00:00Z", "<urn:l:1>", page(en + " one"), "utf-8",
        declareInHeader = true),
      WarcWriter.responseRecord("https://beta.org/en2",
        "2026-01-01T00:00:00Z", "<urn:l:2>", page(en + " two"), "utf-8",
        declareInHeader = true),
      WarcWriter.responseRecord("https://alpha.com/u1",
        "2026-01-01T00:00:00Z", "<urn:l:3>", page(und), "utf-8",
        declareInHeader = true)))
    val th = graft.ops.TextAnalysis.GopherThresholds(
      minWords = 10, minStopHits = 0, minMeanWordLen = 0.0)
    // 'und' budgeted at zero tokens... absent: only English trains —
    // the not-in-the-recipe rule exercised on the stream
    val cfg = Curation.Config(budgets = Map("en" -> 100000L),
      minQuality = 0.0, seqLen = 16)
    val enc = graft.functions.TokenCounters.tinyBpe
    Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "norm_text"), "norm_text",
      s"$dir/keys", expectedKeys = 100L)
    val q = Streams.crawlTokensSink(spark, crawl, s"$dir/out",
      s"$dir/keys", s"$dir/ckpt", enc, cfg, th, byLanguage = true)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
    val strata = out.select("source").distinct().as[String].collect().toSet
    assert(strata == Set("en"),
      s"only the budgeted language may pack: $strata")
    // parity: the batch twin over the same crawl
    val pages = WarcReader.responses(spark, s"$crawl/shard-1.warc.gz")
      .select(col("record_id").as("doc_id"), col("html"))
    val reps = Web.intake(pages, "doc_id", "html", th)
    val twin = Curation.curateTokensByLanguage(spark, reps, "doc_id",
        "norm_text", keyIndexPath = None, benchmark = None, cfg, enc)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("seq_id"),
        r.getAs[Seq[Int]]("token_ids").mkString(","))).toSet
    val streamed = out.collect().map(r => (r.getAs[String]("source"),
      r.getAs[Long]("seq_id"),
      r.getAs[Seq[Int]]("token_ids").mkString(","))).toSet
    assert(streamed == twin, s"stream must equal the batch twin")
  }

  test("crawl recipe, ALL knobs on the stream: digest rung + robots gate + redactPii + byLanguage == the q165-shaped batch composition") {
    import graft.sources.{WarcReader, WarcWriter}
    import graft.ops.{Curation, Dedup, Web}
    val en = "the quick brown fox jumped over the lazy dog and it is " +
      "a fine day to run far in the open field with the pack"
    val und = "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii " +
      "hh gg ff ee dd cc bb aa zz yy xx ww"
    def page(head: String, b: String) =
      s"<html><head>$head</head><body><p>$b</p></body></html>"
    def rec(i: Int, date: String, html: String,
            headers: Seq[(String, String)] = Nil) =
      WarcWriter.responseRecord(s"https://ex.com/p$i", date,
        f"<urn:rcp:$i%04d>", html, "utf-8", declareInHeader = true,
        httpHeaders = headers)
    val dupHtml = page("", en + " first english page")
    val dir = tmpDir("graft_recipestream_")
    val crawl = s"$dir/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    WarcWriter.write(spark, s"$crawl/shard-1.warc.gz", Iterator(
      // byte-identical re-fetch: the digest rung collapses pre-decode
      rec(1, "2026-01-01T00:00:00Z", dupHtml),
      rec(2, "2026-01-05T00:00:00Z", dupHtml),
      // PII-only variants: exact duplicates AFTER the redaction rung
      rec(3, "2026-01-01T00:00:00Z",
        page("", en + " visitor u3@ex.com writing notes")),
      rec(4, "2026-01-01T00:00:00Z",
        page("", en + " visitor u4@other.net writing notes")),
      // opt-outs: header kill pre-decode, meta kill post-decode
      rec(5, "2026-01-01T00:00:00Z", page("", en + " header opted out"),
        headers = Seq("X-Robots-Tag" -> "noindex")),
      rec(6, "2026-01-01T00:00:00Z",
        page("<meta name=\"robots\" content=\"noindex\">",
          en + " meta opted out")),
      // not in the recipe: 'und' admits to the index but never packs
      rec(7, "2026-01-01T00:00:00Z", page("", und))))
    val th = graft.ops.TextAnalysis.GopherThresholds(
      minWords = 10, minStopHits = 0, minMeanWordLen = 0.0)
    val cfg = Curation.Config(budgets = Map("en" -> 100000L),
      minQuality = 0.0, seqLen = 16, redactPii = true)
    val enc = graft.functions.TokenCounters.tinyBpe
    Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "norm_text"), "norm_text",
      s"$dir/keys", expectedKeys = 100L)
    Dedup.buildKeyIndex(
      Seq.empty[String].toDF("payload_digest"), "payload_digest",
      s"$dir/digests", expectedKeys = 100L)
    val q = Streams.crawlTokensSink(spark, crawl, s"$dir/out",
      s"$dir/keys", s"$dir/ckpt", enc, cfg, th,
      digestIndexPath = Some(s"$dir/digests"), robotsGate = true,
      byLanguage = true)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("source").distinct().as[String].collect().toSet
      == Set("en"), "only the budgeted language packs")
    // the batch twin is exactly the q165 composition at the tokens
    // terminal: deduped+gated reader -> intake -> redacting by-language
    // curation
    val pages = WarcReader.responsesDeduped(
        WarcReader.read(spark, s"$crawl/shard-1.warc.gz"),
        robotsGate = true)
      .select(col("record_id").as("doc_id"), col("html"))
    val reps = Web.intake(pages, "doc_id", "html", th)
    val twin = Curation.curateTokensByLanguage(spark, reps, "doc_id",
        "norm_text", keyIndexPath = None, benchmark = None, cfg, enc)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("seq_id"),
        r.getAs[Seq[Int]]("token_ids").mkString(","))).toSet
    val streamed = out.collect().map(r => (r.getAs[String]("source"),
      r.getAs[Long]("seq_id"),
      r.getAs[Seq[Int]]("token_ids").mkString(","))).toSet
    assert(streamed == twin, "stream must equal the q165-shaped twin")
    // the seen-bytes index admitted every distinct payload (opt-outs
    // included — a re-fetch of a noindex page must die at the Bloom),
    // with the re-fetch pair contributing ONE key
    assert(spark.read.parquet(s"$dir/digests/keys").count() == 6)
    // and the standing text index holds only what passed the gates:
    // the dup representative, the collapsed PII pair's survivor + its
    // variant... the PII pair does NOT collapse at intake (redaction
    // lives in curate), so: p1, p3, p4, p7
    assert(spark.read.parquet(s"$dir/keys/keys").count() == 4)
  }

  test("PII rung on the streaming twins: webIntakeSink redacts pre-dedup; crawlTokensSink Config.redactPii matches the batch composition") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{WarcReader, WarcWriter}
    import graft.ops.{Curation, Dedup, Web}
    val body = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass"
    def page(b: String) = s"<html><body><h1>Hdr</h1><p>$b</p></body></html>"
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    // — webIntakeSink(redactPii = true): the scrub lands between
    //   normalize and the dedup, so PII-only page variants collapse as
    //   the duplicates they are and the output carries placeholders.
    //   Empty-seed index built with the expectedKeys capacity hint.
    val dir = tmpDir("graft_piistream_")
    Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "norm_text"), "norm_text",
      s"$dir/keys", expectedKeys = 100L)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.webIntakeSink(spark, mem.toDF().toDF("doc_id", "html"),
      "doc_id", "html", s"$dir/out", s"$dir/keys", s"$dir/ckpt", th,
      redactPii = true)
    try {
      mem.addData(
        (1L, page(body + " mail alice@example.com from 10.1.2.3 today")),
        // the SAME page fetched by someone else: differs only in PII
        (2L, page(body + " mail bob@other.org from 10.9.8.7 today")),
        (3L, page(body + " a different closing line entirely here")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/out")
      .select("doc_id", "norm_text", "n_dupes").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows.keySet == Set(1L, 3L), s"${rows.keySet}")
    assert(rows(1L)._2 == 2L, "PII-only variants must collapse as duplicates")
    assert(rows(1L)._1.contains("<EMAIL>") && rows(1L)._1.contains("<IP>") &&
      !rows(1L)._1.contains("alice@"), rows(1L)._1)
    // — crawlTokensSink: redactPii rides inside the threaded Config; a
    //   single-batch feed reproduces the redacting batch composition
    //   byte-for-byte, and the rung provably changed the packed ids
    def rec(i: Int, b: String) =
      WarcWriter.responseRecord(s"https://alpha.com/p$i",
        "2026-01-02T03:04:05Z", f"<urn:pii:$i%04d>",
        page(b), "utf-8", declareInHeader = true)
    val crawlDir = tmpDir("graft_piicrawl_")
    WarcWriter.write(spark, s"$crawlDir/shard-1.warc.gz", Iterator(
      // 1 and 2 differ ONLY in their visitor email: post-redaction they
      // are exact duplicates and must collapse at the curate screen
      rec(1, s"$body visitor u1@ex.com writing today"),
      rec(2, s"$body visitor u2@ex.com writing today"),
      rec(3, s"$body visitor u3@other.net on another matter")))
    val cfg = Curation.Config(budgets = Map("alpha.com" -> 100000L),
      minQuality = 0.0, seqLen = 16, redactPii = true)
    val enc = graft.functions.TokenCounters.tinyBpe
    def twin(c: Curation.Config): Set[(String, Long, String)] = {
      val pages = WarcReader.responses(spark, s"$crawlDir/shard-1.warc.gz")
        .select(col("record_id").as("doc_id"),
          Web.urlDomain(col("url")).as("source"), col("html"))
      val reps = Web.intake(pages, "doc_id", "html", th)
      val withSource = reps.join(pages.select("doc_id", "source"), Seq("doc_id"))
      Curation.curateTokens(spark, withSource, "doc_id", "norm_text",
          "source", keyIndexPath = None, benchmark = None, c, enc)
        .collect().map(r => (r.getAs[String]("source"),
          r.getAs[Long]("seq_id"),
          r.getAs[Seq[Int]]("token_ids").mkString(","))).toSet
    }
    Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "norm_text"), "norm_text",
      s"$dir/ckeys", expectedKeys = 100L)
    val q2 = Streams.crawlTokensSink(spark, crawlDir, s"$dir/cout",
      s"$dir/ckeys", s"$dir/cckpt", enc, cfg, th)
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.read.parquet(s"$dir/cout")
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("seq_id"),
        r.getAs[Seq[Int]]("token_ids").mkString(","))).toSet
    assert(streamed == twin(cfg),
      s"streamed packed ids must equal the redacting batch twin")
    assert(twin(cfg) != twin(cfg.copy(redactPii = false)),
      "the rung must actually change what packs (placeholders + the " +
        "PII-only pair collapsing at the exact screen)")
  }

  test("streaming gram-excise gate: standing and cross-batch spans excised, empty rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // w=8
    val dir = tmpDir("graft_gramsink_")
    graft.ops.Dedup.buildGramIndex(Seq(
        (1L, s"standing corpus with $passage embedded in the middle zone"))
        .toDF("doc_id", "text"), "text", dir, w = 8)
    val outPath = s"$dir/out"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.gramExciseSink(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dir, outPath, s"$dir/ckpt")
    try {
      // batch 1: 10 carries the standing span (excised, remainder kept);
      // 11 is novel; 12 is ONLY the standing span (empties -> dropped);
      // 13 duplicates 11 exactly within the batch (stage-0 exact dedup);
      // 14 shares a within-batch span with 10's tail (lowest id keeps);
      // 15 is a null row (passes through)
      mem.addData(
        (10L, s"$passage novel continuation one two three four five six"),
        (11L, "first batch novel content nine ten eleven twelve now here"),
        (12L, passage),
        (13L, "first batch novel content nine ten eleven twelve now here"),
        (14L, "novel continuation one two three four five six plus tailing"),
        (15L, null.asInstanceOf[String]))
      q.processAllAvailable()
      // batch 2: 20 duplicates batch 1's doc 11 wholesale (cross-batch:
      // empties -> dropped); 21 is novel
      mem.addData(
        (20L, "first batch novel content nine ten eleven twelve now here"),
        (21L, "second batch completely fresh material thirteen fourteen fifteen sixteen"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(10L, 11L, 14L, 15L, 21L),
      s"dups (12 standing, 13 exact-in-batch, 20 cross-batch) drop; null 15 passes: ${out.keySet}")
    // doc 10: within-batch it KEEPS the span it shares with 14 (lowest
    // id), but the STANDING screen still excises the corpus passage
    assert(out(10L) == "novel continuation one two three four five six",
      s"standing span excised, within-batch-kept span retained: ${out(10L)}")
    assert(out(14L) == "plus tailing",
      s"within-batch shared span excised from the higher id: ${out(14L)}")
    assert(out(11L) == "first batch novel content nine ten eleven twelve now here")
    assert(out(15L) == null, "null-text rows pass through")
  }

  test("streaming line-removal gate: within-batch chrome, retrospective cross-batch ban, empties handled") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_linesink_")
    // standing: "cookie banner" df 2 — BELOW the threshold of 3
    graft.ops.Dedup.buildLineIndex(Seq(
        (1L, "cookie banner\nstanding one"),
        (2L, "cookie banner\nstanding two")).toDF("doc_id", "text"),
      "doc_id", "text", dir, minDocFreq = 3)
    val outPath = s"$dir/out"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.lineRemovalSink(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dir, outPath, s"$dir/ckpt")
    try {
      // batch 1: "promo line" is WITHIN-batch chrome (3 carriers);
      // 12 is only chrome (empties -> drops); 13 carries the standing
      // line while its df is still 2 -> kept (frequency banning is
      // retrospective); 14 null and 15 empty pass through
      mem.addData(
        (10L, "promo line\nalpha uno"),
        (11L, "promo line\nbeta dos"),
        (12L, "promo line"),
        (13L, "cookie banner\ngamma tres"),
        (14L, null.asInstanceOf[String]),
        (15L, ""))
      q.processAllAvailable()
      // batch 2: doc 13's count pushed "cookie banner" to df 3 -> the
      // next carrier has it removed
      mem.addData((20L, "cookie banner\ndelta quat"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(10L, 11L, 13L, 14L, 15L, 20L),
      s"all-chrome doc 12 must drop: ${out.keySet}")
    assert(out(10L) == ((10L, "alpha uno", 1L)) && out(11L) == ((11L, "beta dos", 1L)),
      s"within-batch chrome removed: ${out(10L)}, ${out(11L)}")
    assert(out(13L) == ((13L, "cookie banner\ngamma tres", 0L)),
      s"standing df 2 < 3 must keep the line: ${out(13L)}")
    assert(out(20L) == ((20L, "delta quat", 1L)),
      s"summed df 3 bans for the NEXT carrier: ${out(20L)}")
    assert(out(14L)._2 == null && out(15L) == ((15L, "", 0L)),
      "null and empty-on-arrival rows pass through")
  }

  test("warc file-arrival intake: new shards stream through the gate, cross-batch screen holds") {
    import graft.sources.{WarcReader, WarcWriter}
    val body = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass"
    def page(b: String) = s"<html><body><h1>Hdr</h1><p>$b</p></body></html>"
    def rec(i: Int, b: String) = WarcWriter.responseRecord(
      s"https://ex.com/p$i", "2026-01-02T03:04:05Z", s"<urn:w:$i>",
      page(b), "utf-8", declareInHeader = true)
    val dir = tmpDir("graft_warcsink_")
    val crawl = s"$dir/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    graft.ops.Dedup.buildExactKeyIndex(
      Seq((1L, s"Hdr $body")).toDF("doc_id", "norm_text"),
      "norm_text", s"$dir/keys")
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    // shard 1 lands BEFORE the stream starts: 10 duplicates the standing
    // corpus, 11/13 duplicate each other (min record_id keeps), 12
    // fails the gate, 14 is novel
    WarcWriter.write(spark, s"$crawl/shard-1.warc.gz", Iterator(
      rec(10, body),
      rec(11, body + " and then the chase was finally over"),
      rec(12, "# # # #"),
      rec(13, body + " and then the chase was finally over"),
      rec(14, body + " until dusk settled over the far fields")))
    val q = Streams.warcIngestSink(spark, crawl, s"$dir/out", s"$dir/keys",
      s"$dir/ckpt", th)
    try {
      q.processAllAvailable()
      val out1 = spark.read.parquet(s"$dir/out")
        .select("doc_id", "n_dupes").as[(String, Long)].collect().toMap
      assert(out1.keySet == Set("<urn:w:11>", "<urn:w:14>"), s"${out1.keySet}")
      assert(out1("<urn:w:11>") == 2L, "within-shard pair collapses")
      // shard 2 LANDS while the stream runs: 20 re-fetches shard 1's
      // admission (cross-FILE screen), 21 is novel
      WarcWriter.write(spark, s"$crawl/shard-2.warc.gz", Iterator(
        rec(20, body + " until dusk settled over the far fields"),
        rec(21, body + " when morning broke across the valley floor")))
      q.processAllAvailable()
      val out2 = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[String].collect().toSet
      assert(out2 == Set("<urn:w:11>", "<urn:w:14>", "<urn:w:21>"),
        s"cross-shard duplicate must be screened: $out2")
    } finally q.stop()
    // parity: shard 1 through the batch path (warc read -> intake ->
    // standing screen over the ORIGINAL key) = batch 1's admissions
    val viaOps = graft.ops.Web.intake(
        WarcReader.responses(spark, s"$crawl/shard-1.warc.gz"),
        "record_id", "html", th)
      .where(col("norm_text") =!= s"Hdr $body")
      .select("doc_id").as[String].collect().toSet
    assert(viaOps == Set("<urn:w:11>", "<urn:w:14>"))
  }

  test("warc digest-gated intake: pre-decode screen within and across batches, revisits counted out") {
    import graft.sources.{WarcReader, WarcWriter}
    val body = "The fast brown fox ran over the low stone wall and kept " +
      "pace with the hounds that chased it through the long grass"
    def page(b: String) = s"<html><body><h1>Hdr</h1><p>$b</p></body></html>"
    def rec(i: Int, b: String) = WarcWriter.responseRecord(
      s"https://ex.com/p$i", "2026-01-02T03:04:05Z", s"<urn:w:$i>",
      page(b), "utf-8", declareInHeader = true)
    val pageA = page(body + " while the sun was climbing the ridge")
    val digestA = WarcWriter.payloadDigest(pageA.getBytes("UTF-8"))
    val dir = tmpDir("graft_warcdigsink_")
    val crawl = s"$dir/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    // first ingest: both standing indexes start empty
    graft.ops.Dedup.buildExactKeyIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "norm_text"),
      "norm_text", s"$dir/keys")
    graft.ops.Dedup.buildKeyIndex(
      Seq.empty[String].toDF("payload_digest"), "payload_digest",
      s"$dir/digests")
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    // shard 1: 10 and 11 are byte-identical fetches (same digest), 12
    // is a revisit of that digest, 13 is novel, 14 is a media response
    // the content gate kills pre-shuffle
    WarcWriter.write(spark, s"$crawl/shard-1.warc.gz", Iterator(
      rec(10, body + " while the sun was climbing the ridge"),
      WarcWriter.responseRecord("https://ex.com/p11",
        "2026-01-02T03:04:05Z", "<urn:w:11>", pageA, "utf-8",
        declareInHeader = true),
      WarcWriter.revisitRecord("https://ex.com/p10",
        "2026-01-02T03:04:06Z", "<urn:w:12>", digestA),
      rec(13, body + " and then the chase was finally over"),
      WarcWriter.mediaResponseRecord("https://ex.com/img",
        "2026-01-02T03:04:05Z", "<urn:w:14>", "image/png",
        Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47))))
    val q = Streams.warcIngestSink(spark, crawl, s"$dir/out", s"$dir/keys",
      s"$dir/ckpt", th, digestIndexPath = Some(s"$dir/digests"))
    try {
      q.processAllAvailable()
      val out1 = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[String].collect().toSet
      assert(out1 == Set("<urn:w:10>", "<urn:w:13>"), s"$out1")
      // the batch's digests were admitted (including the dup group's)
      val dig1 = spark.read.parquet(s"$dir/digests/keys")
        .as[String].collect().toSet
      assert(dig1.contains(digestA), s"$dig1")
      assert(dig1.size == 2, s"media digest must not admit: $dig1")
      // shard 2: 20 re-fetches page A byte-identical — the DIGEST gate
      // screens it before any decode; 21 is novel
      WarcWriter.write(spark, s"$crawl/shard-2.warc.gz", Iterator(
        WarcWriter.responseRecord("https://ex.com/p20",
          "2026-01-02T03:04:05Z", "<urn:w:20>", pageA, "utf-8",
          declareInHeader = true),
        rec(21, body + " when morning broke across the valley floor")))
      q.processAllAvailable()
      val out2 = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[String].collect().toSet
      assert(out2 == Set("<urn:w:10>", "<urn:w:13>", "<urn:w:21>"),
        s"cross-batch digest duplicate must be screened: $out2")
    } finally q.stop()
  }

  test("latest-fetch sink: per-batch newest appends, compactLatest collapses cross-batch to the global newest") {
    import graft.sources.WarcWriter
    def resp(url: String, when: String, id: String, body: String) =
      WarcWriter.responseRecord(url, when, id,
        s"<html><body><p>$body</p></body></html>", "utf-8",
        declareInHeader = true)
    val dir = tmpDir("graft_latestsink_")
    val crawl = s"$dir/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    // shard 1: two fetches of /a (within-batch newest wins) + /b
    WarcWriter.write(spark, s"$crawl/shard-1.warc.gz", Iterator(
      resp("https://ex.com/a", "2026-01-01T00:00:00Z", "<urn:f:1>", "a v1"),
      resp("HTTPS://EX.COM/a", "2026-01-05T00:00:00Z", "<urn:f:2>", "a v2"),
      resp("https://ex.com/b", "2026-01-01T00:00:00Z", "<urn:f:3>", "b v1")))
    val q = Streams.latestFetchSink(spark, crawl, s"$dir/out", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      // shard 2 lands later: /a re-fetched NEWER (must replace), /b
      // re-fetched OLDER (a backfilled shard — must NOT replace)
      WarcWriter.write(spark, s"$crawl/shard-2.warc.gz", Iterator(
        resp("https://ex.com/a", "2026-02-01T00:00:00Z", "<urn:f:4>", "a v3"),
        resp("https://ex.com/b", "2025-12-01T00:00:00Z", "<urn:f:5>", "b v0")))
      q.processAllAvailable()
    } finally q.stop()
    // appended history: one row per (batch, url)
    assert(spark.read.parquet(s"$dir/out").count() == 4)
    graft.ops.IndexMaintenance.compactLatest(spark, s"$dir/out")
    val out = spark.read.parquet(s"$dir/out")
      .select("canon_url", "record_id", "html", "n_fetches")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 2, s"$out")
    assert(out("https://ex.com/a").getString(1) == "<urn:f:4>" &&
      out("https://ex.com/a").getString(2).contains("a v3"),
      "the newer cross-batch fetch replaces")
    assert(out("https://ex.com/b").getString(1) == "<urn:f:3>" &&
      out("https://ex.com/b").getString(2).contains("b v1"),
      "a backfilled OLDER shard must not replace")
    // n_fetches is the CROSS-BATCH total after compaction, not the
    // winning batch's count: /a saw 2 fetches in batch 1 + 1 in batch 2
    assert(out("https://ex.com/a").getLong(3) == 3L &&
      out("https://ex.com/b").getLong(3) == 2L,
      s"n_fetches must sum across collapsed batches: $out")
    // idempotence: compacting again changes nothing (incl. the sums)
    graft.ops.IndexMaintenance.compactLatest(spark, s"$dir/out")
    val again = spark.read.parquet(s"$dir/out")
    assert(again.count() == 2)
    assert(again.where(col("canon_url") === "https://ex.com/a")
      .select("n_fetches").collect().head.getLong(0) == 3L)
  }

  test("crawl token-ids sink: batch-composition parity, crash-window replay converges, cross-batch screen") {
    import graft.sources.{WarcReader, WarcWriter}
    import graft.ops.{Curation, Dedup, FaultyFs, Web}
    val words = "the quick brown fox jumped over the lazy dog and ran " +
      "with a steady pace to be first among all runners on that day"
    def page(i: Int, dom: String) =
      s"<html><body><h1>P$i</h1><p>$words number $i on $dom</p></body></html>"
    def rec(i: Int, dom: String, rid: String = "") = {
      val id = if (rid.isEmpty) f"<urn:c:$i%04d>" else rid
      WarcWriter.responseRecord(s"https://$dom/p$i", "2026-01-02T03:04:05Z",
        id, page(i, dom), "utf-8", declareInHeader = true)
    }
    val th = graft.ops.TextAnalysis.GopherThresholds(minWords = 10)
    val cfg = Curation.Config(
      budgets = Map("alpha.com" -> 100000L, "beta.org" -> 100000L),
      minQuality = 0.0, seqLen = 16)
    val enc = graft.functions.TokenCounters.tinyBpe
    def shard1(dst: String): Unit = WarcWriter.write(spark, dst, Iterator(
      rec(1, "alpha.com"), rec(2, "alpha.com"), rec(3, "beta.org"),
      rec(4, "beta.org"),
      // a within-batch exact re-fetch: intake collapses it
      rec(1, "alpha.com", rid = "<urn:c:9991>")))
    // the batch twin — the q157 composition rooted at the same crawl
    def batchTwin(file: String): Set[(String, Long, String, String)] = {
      val pages = WarcReader.responses(spark, file)
        .select(col("record_id").as("doc_id"),
          Web.urlDomain(col("url")).as("source"), col("html"))
      val reps = Web.intake(pages, "doc_id", "html", th)
      val withSource = reps.join(pages.select("doc_id", "source"), Seq("doc_id"))
      Curation.curateTokens(spark, withSource, "doc_id", "norm_text",
          "source", keyIndexPath = None, benchmark = None, cfg, enc)
        .collect().map(r => (r.getAs[String]("source"),
          r.getAs[Long]("seq_id"),
          r.getAs[Seq[Int]]("token_ids").mkString(","),
          r.getAs[Seq[Long]]("doc_starts").mkString(","))).toSet
    }
    FaultyFs.install(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      FaultyFs.failWhen = None
      FaultyFs.failedRenames.clear()
      val wd = "faulty://" + tmpDir("graft_crawltok_")
      val crawlDir = tmpDir("graft_crawltok_landing_")
      val ckpt = tmpDir("graft_crawltok_ckpt_")
      shard1(s"$crawlDir/shard-1.warc.gz")
      Dedup.buildExactKeyIndex(
        Seq.empty[(Long, String)].toDF("doc_id", "norm_text"),
        "norm_text", s"$wd/keys")
      val expected = batchTwin(s"$crawlDir/shard-1.warc.gz")
      assert(expected.nonEmpty, "fixture must survive the gate")
      def start() = Streams.crawlTokensSink(spark, crawlDir, s"$wd/out",
        s"$wd/keys", ckpt, enc, cfg, th)
      // crash window: the text-key admission's parquet append dies
      // AFTER the output append committed — the at-least-once window
      val root = new java.net.URI(wd).getPath
      FaultyFs.failWhen = Some(p => p.startsWith(root) &&
        p.contains("/keys/keys/") && p.endsWith(".parquet") &&
        !p.contains("_temporary"))
      val q1 = start()
      val died =
        try { q1.processAllAvailable(); false }
        catch { case _: Exception => true }
        finally { q1.stop(); FaultyFs.failWhen = None }
      val fired = FaultyFs.failedRenames.toArray(Array.empty[String])
        .exists(p => p.startsWith(root) && p.contains("/keys/keys/"))
      if (!died || !fired) {
        if (attempt >= 3) fail(
          s"crash window failed to form after $attempt attempts " +
            s"(died=$died fired=$fired)")
        info(s"crash window did not form (attempt $attempt) — retrying")
      } else {
        // replay from the same checkpoint, then a second live batch
        val q2 = start()
        try {
          q2.processAllAvailable()
          val out1 = spark.read.parquet(s"$wd/out")
          val rows1 = out1.collect().map(r => (r.getAs[String]("source"),
            r.getAs[Long]("seq_id"),
            r.getAs[Seq[Int]]("token_ids").mkString(","),
            r.getAs[Seq[Long]]("doc_starts").mkString(","))).toSeq
          assert(rows1.toSet == expected,
            s"replayed output must converge to the batch twin:\n" +
              s"got ${rows1.toSet}\nwant $expected")
          assert(rows1.size == 2 * expected.size,
            "the replayed batch re-emits byte-identical rows " +
              s"(at-least-once): ${rows1.size} vs ${expected.size}")
          assert(out1.select("batch_id").distinct().count() == 1,
            "replay reuses the SAME batch id — downstream compaction " +
              "keys (batch_id, source, seq_id)")
          // batch 2 while running: a byte-identical re-fetch of page 1
          // (cross-batch text screen) + one novel page
          WarcWriter.write(spark, s"$crawlDir/shard-2.warc.gz", Iterator(
            rec(1, "alpha.com", rid = "<urn:c:9992>"),
            rec(99, "beta.org")))
          q2.processAllAvailable()
        } finally q2.stop()
        val out2 = spark.read.parquet(s"$wd/out")
        val b2 = out2.where(col("batch_id") =!= 0)
        assert(b2.count() > 0, "the novel page must pack")
        val b2src = b2.select("source").distinct()
          .as[String].collect().toSet
        assert(b2src == Set("beta.org"),
          s"the re-fetched page must screen out cross-batch: $b2src")
        done = true
      }
    }
  }

  test("streaming paragraph-removal gate: within-batch chrome, retrospective cross-batch ban, batch-op parity") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_parasink_")
    // standing: "cookie banner para" df 2 — BELOW the threshold of 3
    val standing = Seq(
      (1L, "cookie banner para\n\nstanding one"),
      (2L, "cookie banner para\n\nstanding two")).toDF("doc_id", "text")
    graft.ops.Dedup.buildParagraphIndex(standing,
      "doc_id", "text", dir, minDocFreq = 3)
    val outPath = s"$dir/out"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.paragraphRemovalSink(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dir, outPath, s"$dir/ckpt")
    val batch1 = Seq(
      (10L, "promo para here\n\nalpha uno"),
      (11L, "promo para here\n\nbeta dos"),
      (12L, "promo para here"),
      (13L, "cookie banner para\n\ngamma tres"),
      (14L, null.asInstanceOf[String]),
      (15L, ""))
    var sinkB1 = Seq.empty[String]
    try {
      // batch 1: "promo para here" is WITHIN-batch chrome (3 carriers);
      // 12 is only chrome (drops); 13 carries the standing paragraph
      // while its df is still 2 -> kept (banning is retrospective);
      // 14 null and 15 empty pass through
      mem.addData(batch1: _*)
      q.processAllAvailable()
      sinkB1 = spark.read.parquet(outPath)
        .where(col("clean_text").isNotNull)
        .select("doc_id", "clean_text", "n_paras", "n_removed")
        .collect().map(_.toString).sorted.toSeq
      // batch 2: doc 13's count pushed "cookie banner para" to df 3 ->
      // the next carrier has it removed
      mem.addData((20L, "cookie banner para\n\ndelta quat"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(10L, 11L, 13L, 14L, 15L, 20L),
      s"all-chrome doc 12 must drop: ${out.keySet}")
    assert(out(10L) == ((10L, "alpha uno", 1L)) && out(11L) == ((11L, "beta dos", 1L)),
      s"within-batch chrome removed: ${out(10L)}, ${out(11L)}")
    assert(out(13L) == ((13L, "cookie banner para\n\ngamma tres", 0L)),
      s"standing df 2 < 3 must keep the paragraph: ${out(13L)}")
    assert(out(20L) == ((20L, "delta quat", 1L)),
      s"summed df 3 bans for the NEXT carrier: ${out(20L)}")
    assert(out(14L)._2 == null && out(15L) == ((15L, "", 0L)),
      "null and empty-on-arrival rows pass through")
    // batch-op parity (the q152 rule): batch 1's non-null sink rows ==
    // removeFrequentParagraphs within the batch, then the standing
    // screen — composed from the ops over a fresh standing-only index
    // (the live one has since advanced past batch 1's view)
    import org.apache.spark.sql.functions.{col => c}
    val refIdx = tmpDir("graft_parasink_ref_")
    graft.ops.Dedup.buildParagraphIndex(standing, "doc_id", "text", refIdx,
      minDocFreq = 3)
    val b1 = batch1.toDF("doc_id", "text").where(c("text").isNotNull)
    val within = graft.ops.Dedup
      .removeFrequentParagraphs(b1, "doc_id", "text", minDocFreq = 3)
    val composed = graft.ops.Dedup.removeParagraphsAgainstIndex(spark,
        within.select(c("doc_id"), c("clean_text").as("text")),
        "doc_id", "text", refIdx)
      .join(within.select(c("doc_id"), c("n_paras").as("_np"),
        c("n_removed").as("_r")), Seq("doc_id"))
      .select(c("doc_id"), c("clean_text"), c("_np").as("n_paras"),
        (c("_r") + c("n_removed")).as("n_removed"))
      .where(c("clean_text") =!= "" || c("n_removed") === 0)
      .collect().map(_.toString).sorted.toSeq
    assert(sinkB1 == composed, "sink batch != composed batch ops")
  }

  test("streaming quantized LSH index sink: int8 rows land in float-identical buckets and are probed") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(31)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val query = vec()
    val initial = (100L until 160L).map(i => (i, vec()))
    val dir = tmpDir("graft_lshqsink_")
    graft.ops.Similarity.buildLshIndexQuantized(
      initial.toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      dim = 16, nBits = 4)
    val neighbors = (1L to 5L).map(i =>
      (i, query.map(_ + (rng.nextDouble() - 0.5) * 0.001)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.lshIndexQuantizedSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir/ckpt", dim = 16, nBits = 4)
    try {
      mem.addData(neighbors: _*)
      mem.addData((997L, null.asInstanceOf[Seq[Double]]), (998L, Seq.empty[Double]))
      q.processAllAvailable()
    } finally q.stop()
    val data = spark.read.parquet(s"$dir/data")
    assert(data.schema.fieldNames.toSet == Set("vec_id", "scale", "q", "bucket"))
    assert(data.count() == 65,
      s"batch (60) + streamed (5) rows must all be visible, got ${data.count()}")
    val got = graft.ops.Similarity.lshIndexQuantizedTopK(spark, dir, "vec_id",
        query.toArray, dim = 16, k = 5, nBits = 4)
      .select("vec_id").as[Long].collect().toSet
    assert((got & (1L to 5L).toSet).size >= 4,
      s"streamed near-identical neighbors must surface in top-5, got $got")
  }

  test("streaming quantized IVF index sink: in-flight int8 rows join the batch layout and are probed") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(29)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val query = vec()
    val initial = (100L until 160L).map(i => (i, vec()))
    val dir = tmpDir("graft_ivfqsink_")
    graft.ops.Similarity.buildIvfIndexQuantized(
      initial.toDF("vec_id", "embedding"), "vec_id", "embedding", dir, nCells = 8)
    val neighbors = (1L to 5L).map(i =>
      (i, query.map(_ + (rng.nextDouble() - 0.5) * 0.001)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfIndexQuantizedSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir/ckpt")
    try {
      mem.addData(neighbors: _*)
      // admission guard: null/empty vectors refused like the batch builder
      mem.addData((997L, null.asInstanceOf[Seq[Double]]), (998L, Seq.empty[Double]))
      q.processAllAvailable()
    } finally q.stop()
    // streamed rows carry the byte layout, not float vectors, and the
    // batch-built corpus stays visible (no _spark_metadata shadowing)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.schema.fieldNames.toSet == Set("vec_id", "scale", "q", "cell"))
    assert(data.count() == 65,
      s"batch (60) + streamed (5) rows must all be visible, got ${data.count()}")
    // quantized probes see the streamed neighbors
    val got = graft.ops.Similarity.ivfIndexQuantizedTopK(spark, dir, "vec_id",
        query.toArray, k = 5, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got == (1L to 5L).toSet,
      s"streamed near-identical neighbors must dominate top-5, got $got")
  }

  test("streaming PQ index sink: frozen codebooks encode in-flight rows; probes see the mix") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(37)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val query = vec()
    val initial = (100L until 160L).map(i => (i, vec()))
    val dir = tmpDir("graft_pqsink_")
    graft.ops.Similarity.buildPqIndex(
      initial.toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      m = 4, nCodes = 8)
    val neighbors = (1L to 5L).map(i =>
      (i, query.map(_ + (rng.nextDouble() - 0.5) * 0.001)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.pqIndexSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir/ckpt")
    try {
      mem.addData(neighbors: _*)
      // admission guard: null/empty vectors refused like the batch builder
      mem.addData((997L, null.asInstanceOf[Seq[Double]]), (998L, Seq.empty[Double]))
      q.processAllAvailable()
    } finally q.stop()
    // streamed rows carry codes only — never a stored float — and the
    // batch-built corpus stays visible (no _spark_metadata shadowing)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.schema.fieldNames.toSet == Set("vec_id", "codes"))
    assert(data.count() == 65,
      s"batch (60) + streamed (5) rows must all be visible, got ${data.count()}")
    // streamed rows encode against the SAME frozen codebooks the batch
    // rows used: a batch re-encode of the streamed vectors is identical
    val cbRows = spark.read.parquet(s"$dir/codebooks")
      .select($"s", $"code", $"w").collect()
    val cb = Array.ofDim[Array[Double]](
      cbRows.map(_.getInt(0)).max + 1, cbRows.map(_.getInt(1)).max + 1)
    cbRows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val reEnc = neighbors.toDF("vec_id", "embedding")
      .select($"vec_id", graft.functions.VectorFunctions.pqEncode(
        transform($"embedding", _.cast("double")), cb).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    val streamed = data.filter($"vec_id" <= 5L)
      .as[(Long, Seq[Int])].collect().toMap
    assert(streamed == reEnc, "streamed codes must match a batch re-encode")
    // ADC probes surface the streamed near-identical neighbors
    val got = graft.ops.Similarity.pqIndexTopK(spark, dir, "vec_id",
        query.toArray, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert((got & (1L to 5L).toSet).size >= 4,
      s"streamed near-identical neighbors must surface in top-5, got $got")
  }

  test("streaming IVF-PQ index sink: frozen centroids place, frozen codebooks encode; pruned probes see the mix") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(41)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val query = vec()
    val initial = (100L until 160L).map(i => (i, vec()))
    val dir = tmpDir("graft_ivfpqsink_")
    graft.ops.Similarity.buildIvfPqIndex(
      initial.toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      nCells = 8, m = 4, nCodes = 8)
    val neighbors = (1L to 5L).map(i =>
      (i, query.map(_ + (rng.nextDouble() - 0.5) * 0.001)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfPqIndexSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir/ckpt")
    try {
      mem.addData(neighbors: _*)
      mem.addData((997L, null.asInstanceOf[Seq[Double]]), (998L, Seq.empty[Double]))
      q.processAllAvailable()
    } finally q.stop()
    val data = spark.read.parquet(s"$dir/data")
    assert(data.schema.fieldNames.toSet == Set("vec_id", "codes", "cell"))
    assert(data.count() == 65,
      s"batch (60) + streamed (5) rows must all be visible, got ${data.count()}")
    // streamed rows share the batch geometry: cells assigned by the
    // frozen centroid table, so all 5 near-identical neighbors land in
    // the query's own nearest cell
    val cents = spark.read.parquet(s"$dir/centroids")
      .select($"cell", $"centroid").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) 0.0 else d / n
    }
    val qCell = cents.zipWithIndex.maxBy { case (c, i) => (cos(c, query.toArray), -i) }._2
    val streamedCells = data.filter($"vec_id" <= 5L)
      .select($"cell".cast("int")).as[Int].collect().toSet
    assert(streamedCells == Set(qCell),
      s"streamed neighbors must land in the query's cell $qCell, got $streamedCells")
    // pruned point probes see them
    val got = graft.ops.Similarity.ivfPqIndexTopK(spark, dir, "vec_id",
        query.toArray, k = 5, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert((got & (1L to 5L).toSet).size >= 4,
      s"streamed near-identical neighbors must surface in top-5, got $got")
  }

  test("streaming IVF-PQ sink honors a RESIDUAL layout: streamed codes match the batch encode") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(47)
    def vec(): Seq[Double] = Seq.fill(16)(rng.nextDouble() - 0.5)
    val initial = (100L until 160L).map(i => (i, vec()))
    val dir = tmpDir("graft_ivfpqrsink_")
    graft.ops.Similarity.buildIvfPqIndex(
      initial.toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      nCells = 8, m = 4, nCodes = 8, residual = true)
    val streamed = (1L to 5L).map(i => (i, vec()))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfPqIndexSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, s"$dir/ckpt")
    try {
      mem.addData(streamed: _*)
      q.processAllAvailable()
    } finally q.stop()
    // ground truth: a batch RESIDUAL encode of the streamed vectors
    // against the index's OWN frozen tables — a raw encode appended
    // into a residual layout would diverge here and mis-score forever
    val cbRows = spark.read.parquet(s"$dir/codebooks")
      .select($"s", $"code", $"w").collect()
    val cb = Array.ofDim[Array[Double]](
      cbRows.map(_.getInt(0)).max + 1, cbRows.map(_.getInt(1)).max + 1)
    cbRows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val cents = spark.read.parquet(s"$dir/centroids")
      .select($"cell", $"centroid").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val expected = streamed.toDF("vec_id", "embedding")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("_v"))
      .withColumn("cell",
        graft.functions.VectorFunctions.nearestCentroid($"_v", cents))
      .select($"vec_id", $"cell",
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.centroidResidual(
            $"_v", $"cell", cents), cb).as("codes"))
      .as[(Long, Int, Seq[Int])].collect()
      .map(r => r._1 -> ((r._3, r._2))).toMap
    val got = spark.read.parquet(s"$dir/data")
      .filter($"vec_id" <= 5L)
      .select($"vec_id", $"codes", $"cell".cast("int"))
      .as[(Long, Seq[Int], Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    (1L to 5L).foreach { i =>
      assert(got(i) == expected(i),
        s"streamed residual encode must equal the batch encode for id $i: " +
          s"${got(i)} vs ${expected(i)}")
    }
  }

  test("every vector-index sink stores a streamed row exactly as its builder stored it") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(53)
    // float vectors, so the double cast is exercised; a null and an
    // empty vector must be refused by builder and sink alike
    val corpus: Seq[(Long, Seq[Float])] =
      (1L to 40L).map(i => (i, Seq.fill(8)(rng.nextFloat() - 0.5f))) ++
        Seq((98L, null), (99L, Seq.empty[Float]))
    val S = graft.ops.Similarity
    type Frame = org.apache.spark.sql.DataFrame
    type Sink = (Frame, String, String) => org.apache.spark.sql.streaming.StreamingQuery
    def ivfDrift: Sink = (df, path, ckpt) => Streams.ivfDriftCardSink(spark,
      df, "vec_id", "embedding", path, ckpt, s"${path}_card")
    val layouts: Seq[(String, (Frame, String) => Unit, Sink)] = Seq(
      ("lsh", S.buildLshIndex(_, "vec_id", "embedding", _, dim = 8, nBits = 3),
        (df, path, ckpt) => Streams.lshIndexSink(df, "embedding", path, ckpt,
          dim = 8, nBits = 3)),
      ("lsh int8", S.buildLshIndexQuantized(_, "vec_id", "embedding", _,
          dim = 8, nBits = 3),
        (df, path, ckpt) => Streams.lshIndexQuantizedSink(df, "vec_id",
          "embedding", path, ckpt, dim = 8, nBits = 3)),
      ("ivf", S.buildIvfIndex(_, "vec_id", "embedding", _, nCells = 4),
        (df, path, ckpt) => Streams.ivfIndexSink(spark, df, "embedding", path,
          ckpt)),
      ("ivf int8", S.buildIvfIndexQuantized(_, "vec_id", "embedding", _,
          nCells = 4),
        (df, path, ckpt) => Streams.ivfIndexQuantizedSink(spark, df, "vec_id",
          "embedding", path, ckpt)),
      ("pq", S.buildPqIndex(_, "vec_id", "embedding", _, m = 2, nCodes = 4),
        (df, path, ckpt) => Streams.pqIndexSink(spark, df, "vec_id",
          "embedding", path, ckpt)),
      ("ivf_pq raw", S.buildIvfPqIndex(_, "vec_id", "embedding", _, nCells = 4,
          m = 2, nCodes = 4),
        (df, path, ckpt) => Streams.ivfPqIndexSink(spark, df, "vec_id",
          "embedding", path, ckpt)),
      ("ivf_pq residual", S.buildIvfPqIndex(_, "vec_id", "embedding", _,
          nCells = 4, m = 2, nCodes = 4, residual = true),
        (df, path, ckpt) => Streams.ivfPqIndexSink(spark, df, "vec_id",
          "embedding", path, ckpt)),
      ("drift card, ivf", S.buildIvfIndex(_, "vec_id", "embedding", _,
          nCells = 4), ivfDrift),
      ("drift card, ivf_int8", S.buildIvfIndexQuantized(_, "vec_id",
          "embedding", _, nCells = 4), ivfDrift),
      ("drift card, ivf_pq raw", S.buildIvfPqIndex(_, "vec_id", "embedding", _,
          nCells = 4, m = 2, nCodes = 4), ivfDrift),
      ("drift card, ivf_pq residual", S.buildIvfPqIndex(_, "vec_id",
          "embedding", _, nCells = 4, m = 2, nCodes = 4, residual = true),
        ivfDrift))
    for ((name, build, sink) <- layouts) {
      val dir = tmpDir("graft_placement_")
      build(corpus.toDF("vec_id", "embedding"), s"$dir/idx")
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = sink(mem.toDF().toDF("vec_id", "embedding"), s"$dir/idx",
        s"$dir/ckpt")
      try {
        mem.addData(corpus: _*)
        q.processAllAvailable()
      } finally q.stop()
      // the partition column reads back from the directory name, so a
      // row-level comparison covers the partition dir and every stored
      // column at once
      val data = spark.read.parquet(s"$dir/idx/data")
      val perRow = data.groupBy(data.columns.map(col): _*).count()
        .select("vec_id", "count").as[(Long, Long)].collect()
      assert(perRow.map(_._1).sorted.toSeq == (1L to 40L),
        s"$name: one distinct stored row per valid id: ${perRow.toList}")
      assert(perRow.forall(_._2 == 2L),
        s"$name: the built and the streamed row must be identical: " +
          perRow.filter(_._2 != 2L).toList)
    }
  }

  test("streaming text-index sink: streamed docs pair with the batch corpus, no re-tokenization") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, base),
      (2L, "completely unrelated text about parquet file formats and shuffles"),
      (3L, "another distinct document mentioning catalyst rules and codegen"))
    val dir = tmpDir("graft_textsink_")
    graft.ops.Dedup.buildTextIndex(
      corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    // stream in a near-duplicate of doc 1, an unrelated doc, and a
    // null-text doc (must be refused at the door like the batch builder)
    val nearDup = base.replace("today", "tonight")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.textIndexSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir, s"$dir/ckpt")
    try {
      mem.addData((100L, nearDup), (101L, "fresh stream-only content here"),
        (102L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    // the appended sets join the batch corpus; null-text doc dropped
    val setIds = spark.read.parquet(s"$dir/sets")
      .select("doc_id").as[Long].collect().toSet
    assert(setIds == Set(1L, 2L, 3L, 100L, 101L),
      s"streamed docs must land in sets/ and null text must be refused, got $setIds")
    // probes served from the index alone find the cross-population pair
    val pairs = graft.ops.Dedup.minHashLshFromIndex(spark, dir, threshold = 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 100L)),
      s"streamed near-dup must pair with the batch-built corpus, got $pairs")
    // pair-identical to an index rebuilt from scratch over the union —
    // the streamed appends ARE the index, not an approximation of it
    val dir2 = tmpDir("graft_textsink_full_")
    graft.ops.Dedup.buildTextIndex(
      (corpus ++ Seq((100L, nearDup), (101L, "fresh stream-only content here")))
        .toDF("doc_id", "text"), "doc_id", "text", dir2)
    val full = graft.ops.Dedup.minHashLshFromIndex(spark, dir2, threshold = 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs == full,
      s"streamed index must be pair-identical to a from-scratch build: $pairs vs $full")
    // a sink whose geometry disagrees with the layout meta must refuse
    // at START — appending k=16 bands into a k=8 layout would silently
    // partition streamed docs away from the batch corpus
    val bad = intercept[IllegalArgumentException] {
      Streams.textIndexSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir, s"$dir/ckpt2", k = 16, bands = 8)
    }
    assert(bad.getMessage.contains("disagrees"))
  }

  test("textIndexCardSink: per-batch recall card matches polling the batch audit; auditEvery skips") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val seeds = Seq(
      (1L, base),
      (2L, "completely unrelated text about parquet file formats and shuffles"))
    val dirA = tmpDir("graft_textcard_")
    val dirB = tmpDir("graft_textcard_ctl_")
    Seq(dirA, dirB).foreach(d => graft.ops.Dedup.buildTextIndex(
      seeds.toDF("doc_id", "text"), "doc_id", "text", d))
    val mem = MemoryStream[(Long, String)]
    val card = tmpDir("graft_textcard_out_")
    val qA = Streams.textIndexCardSink(spark,
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dirA, s"$dirA/ckpt", card)
    val qB = Streams.textIndexSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dirB, s"$dirB/ckpt")
    def audit(dir: String) = graft.ops.Dedup.dedupRecallFromIndex(spark, dir)
      .select("band", "j_lo", "n_truth", "n_hit", "recall")
      .as[(Long, Double, Long, Long, Double)].collect().toSet
    val expected = scala.collection.mutable.Map[Long, Set[(Long, Double, Long, Long, Double)]]()
    try {
      // batch 0: a near-dup of seed 1 — truth appears, the screen sees it
      mem.addData((100L, base.replace("today", "tonight")))
      qA.processAllAvailable(); qB.processAllAvailable()
      expected(0L) = audit(dirB) // POLLING the batch audit on the control
      // batch 1: a weaker twin (prefix) — a lower-similarity band appears
      mem.addData((101L, base.split(" ").take(9).mkString(" ") +
        " and then some wholly new words follow here"))
      qA.processAllAvailable(); qB.processAllAvailable()
      expected(1L) = audit(dirB)
    } finally { qA.stop(); qB.stop() }
    val got = spark.read.parquet(card)
      .select("batch_id", "band", "j_lo", "n_truth", "n_hit", "recall")
      .as[(Long, Long, Double, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (b, rows) =>
        b -> rows.map(r => (r._2, r._3, r._4, r._5, r._6)).toSet
      }
    assert(got.keySet == Set(0L, 1L), s"one card block per batch: ${got.keySet}")
    assert(got(0L) == expected(0L),
      s"batch-0 card must equal polling the audit: ${got(0L)} vs ${expected(0L)}")
    assert(got(1L) == expected(1L),
      s"batch-1 card must equal polling the audit: ${got(1L)} vs ${expected(1L)}")
    assert(expected(0L).nonEmpty && expected(1L) != expected(0L),
      "the planted batches must actually move the curve")
    // the card sink appends into the layout exactly like the plain sink
    assert(spark.read.parquet(s"$dirA/sets").select("doc_id").as[Long]
      .collect().toSet ==
      spark.read.parquet(s"$dirB/sets").select("doc_id").as[Long]
        .collect().toSet)
    // auditEvery=2 audits batches 0 and 2, skips 1; sampled audit is
    // deterministic (same slice both runs)
    val mem2 = MemoryStream[(Long, String)]
    val card2 = tmpDir("graft_textcard2_out_")
    val dirC = tmpDir("graft_textcard2_idx_")
    graft.ops.Dedup.buildTextIndex(seeds.toDF("doc_id", "text"),
      "doc_id", "text", dirC)
    val qC = Streams.textIndexCardSink(spark,
      mem2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dirC, s"$dirC/ckpt", card2, auditEvery = 2)
    try {
      // every batch is a near-dup of the seed, so every audited batch
      // has a nonempty curve to append (an empty audit writes no rows)
      for (i <- 0 until 3) {
        mem2.addData((200L + i, base.replace("today", s"tonight$i")))
        qC.processAllAvailable()
      }
    } finally qC.stop()
    val audited = spark.read.parquet(card2)
      .select("batch_id").distinct().as[Long].collect().toSet
    assert(audited == Set(0L, 2L), s"auditEvery=2 audits 0 and 2: $audited")
    val s1 = graft.ops.Dedup.dedupRecallFromIndex(spark, dirC, sample = 0.9)
      .collect().toSeq
    val s2 = graft.ops.Dedup.dedupRecallFromIndex(spark, dirC, sample = 0.9)
      .collect().toSeq
    assert(s1.toSet == s2.toSet, "sampled audit must be deterministic")
  }

  test("packStream: offsets continue across micro-batches and match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val out = Streams.packStream(spark,
      mem.toDF().toDF("doc_id", "shard", "n_tokens"), seqLen = 256)
    val q = out.writeStream.format("memory").queryName("pack_stream")
      .outputMode("append").start()
    try {
      // batch 1: shard A fills 600 tokens, shard B 10
      mem.addData((1L, "A", 300L), (2L, "A", 300L), (10L, "B", 10L))
      q.processAllAvailable()
      // batch 2: offsets must CONTINUE from the held state; doc 4 is a
      // ZERO-token doc (empty span — seq_last < seq_first in both twins)
      mem.addData((3L, "A", 100L), (4L, "A", 0L), (11L, "B", 250L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("pack_stream")
      .select("doc_id", "start_off", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // identical to the batch twin fed the same docs in id order
    val batch = graft.ops.Packing.pack(
        Seq((1L, "A", 300L), (2L, "A", 300L), (3L, "A", 100L), (4L, "A", 0L),
            (10L, "B", 10L), (11L, "B", 250L)).toDF("doc_id", "shard", "n"),
        "doc_id", "n", "shard", seqLen = 256)
      .select("doc_id", "start_off", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows == batch,
      s"streaming offsets must match the batch layout; got $rows vs $batch")
  }

  test("decontaminateScreen drops benchmark-overlapping docs from a stream") {
    implicit val sqlCtx = spark.sqlContext
    val benchText = "alpha beta gamma delta epsilon zeta"
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    // the benchmark's 3-gram shingles, same tokenization as the operator
    benchText.split(" ").sliding(3).foreach(g => bloom.putString(g.mkString(" ")))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.decontaminateScreen(
        mem.toDF().toDF("doc_id", "text"), "text", bloom)
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "prefix words then alpha beta gamma copied from the benchmark"),
        (2L, "совершенно чистый документ без общих отрезков"),
        (3L, "clean text with no benchmark overlap at all"),
        (4L, "al"), // too short for any shingle: passes
        (5L, null.asInstanceOf[String]))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("decon_stream").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L, 5L),
      s"contaminated doc 1 must be screened out, got $kept")
  }

  test("nbGateSink admits stream rows the frozen batch scorer admits") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, "good clean prose here", 1), (2L, "good signal rich text", 1),
      (3L, "spam click bait spam", 0), (4L, "bait noise spam junk", 0))
      .toDF("doc_id", "text", "label")
    val model = tmpDir("graft_nbgate_model_")
    graft.ops.TextAnalysis.buildNbModel(spark, train, "text", "label", model)
    val out = tmpDir("graft_nbgate_out_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nbGateSink(spark, mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", model, out, tmpDir("graft_nbgate_ck_"))
    val batch1 = Seq((10L, "clean prose signal"), (11L, "spam bait click"))
    val batch2 = Seq((12L, "good text"), (13L, "junk noise"),
      (14L, null.asInstanceOf[String]))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(out)
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(10L, 12L),
      "curated-like rows pass, crawl-like and null-text rows drop")
    // scores attached to admitted rows equal the frozen batch scorer's
    val batchScores = graft.ops.TextAnalysis.nbScoreWithModel(spark,
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", model)
      .where(col("log_odds") > 0)
      .select("doc_id", "log_odds").as[(Long, Double)].collect().toSet
    assert(admitted.select("doc_id", "log_odds")
      .as[(Long, Double)].collect().toSet == batchScores)
    // a non-model path fails at sink START, not at first batch
    val bad = intercept[IllegalArgumentException] {
      Streams.nbGateSink(spark, mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", tmpDir("graft_nbgate_bad_"), out,
        tmpDir("graft_nbgate_ck2_"))
    }
    assert(bad.getMessage.contains("nb_model"))
  }

  test("nbGateSink reads the model meta once, at sink start") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, "good clean prose here", 1), (2L, "good signal rich text", 1),
      (3L, "spam click bait spam", 0), (4L, "bait noise spam junk", 0))
      .toDF("doc_id", "text", "label")
    val model = tmpDir("graft_nbonce_model_")
    graft.ops.TextAnalysis.buildNbModel(spark, train, "text", "label", model)
    val batch1 = Seq((10L, "clean prose signal"), (11L, "spam bait click"))
    val batch2 = Seq((12L, "good text"), (13L, "junk noise"))
    val expected = graft.ops.TextAnalysis.nbScoreWithModel(spark,
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", model)
      .where(col("log_odds") > 0)
      .select("doc_id", "log_odds").as[(Long, Double)].collect().toSet
    val out = tmpDir("graft_nbonce_out_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nbGateSink(spark, mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", model, out, tmpDir("graft_nbonce_ck_"))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      // retag the meta under the running sink; the count tables stay
      val meta = graft.ops.Similarity.readIndexMeta(spark, model)
      graft.ops.Similarity.writeIndexMeta(spark, model,
        (meta + ("layout" -> "retired_model")).toSeq)
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(out).select("doc_id", "log_odds")
      .as[(Long, Double)].collect().toSet == expected)
    assert(expected.map(_._1) == Set(10L, 12L))
  }

  test("pplGateSink admits in-domain stream rows under the frozen reference LM") {
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug")).toDF("doc_id", "text")
    val model = tmpDir("graft_pplgate_model_")
    graft.ops.TextAnalysis.buildBigramLm(spark, train, "text", model)
    val out = tmpDir("graft_pplgate_out_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.pplGateSink(spark, mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", model, out, tmpDir("graft_pplgate_ck_"), maxBits = 2.0)
    val batch1 = Seq((10L, "the cat sat on the rug"),
      (11L, "le chat est sur le tapis"))
    val batch2 = Seq((12L, "the dog sat on the mat"), (13L, "zz"),
      (14L, null.asInstanceOf[String]))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(out)
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(10L, 12L),
      "in-domain rows pass; OOV-heavy, single-token and null-text rows drop")
    // scores attached equal the frozen batch scorer's
    val batchScores = graft.ops.TextAnalysis.bigramScoreWithModel(spark,
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", model)
      .where(col("xent_bits") <= 2.0)
      .select("doc_id", "xent_bits", "n_oov")
      .as[(Long, Double, Long)].collect().toSet
    assert(admitted.select("doc_id", "xent_bits", "n_oov")
      .as[(Long, Double, Long)].collect().toSet == batchScores)
    // a non-LM path fails at sink START, not at first batch
    val bad = intercept[IllegalArgumentException] {
      Streams.pplGateSink(spark, mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", tmpDir("graft_pplgate_bad_"), out,
        tmpDir("graft_pplgate_ck2_"), maxBits = 2.0)
    }
    assert(bad.getMessage.contains("bigram_lm"))
  }

  test("dsirGateSink admits target-like stream rows under the frozen model") {
    implicit val sqlCtx = spark.sqlContext
    val fit = ((0L until 10L).map(i => (i, "alpha beta alpha", true)) ++
      (10L until 30L).map(i => (i, "zzz qqq zzz qqq", false)))
      .toDF("doc_id", "text", "tgt")
    val model = tmpDir("graft_dsirgate_model_")
    graft.ops.Sampling.buildDsirModel(spark, fit, "text", col("tgt"), model)
    val out = tmpDir("graft_dsirgate_out_")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dsirGateSink(spark, mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", model, out, tmpDir("graft_dsirgate_ck_"), minLogW = 0.0)
    val batch1 = Seq((100L, "alpha beta"), (101L, "zzz qqq"))
    val batch2 = Seq((102L, "alpha alpha beta"),
      (103L, null.asInstanceOf[String]))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(out)
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(100L, 102L),
      "target-like rows pass; pool-like and null-text rows drop")
    val batchScores = graft.ops.Sampling.dsirScoreWithModel(spark,
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text", model)
      .where(col("log_w") >= 0.0)
      .select("doc_id", "log_w").as[(Long, Double)].collect().toSet
    assert(admitted.select("doc_id", "log_w")
      .as[(Long, Double)].collect().toSet == batchScores)
    val bad = intercept[IllegalArgumentException] {
      Streams.dsirGateSink(spark, mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", tmpDir("graft_dsirgate_bad_"), out,
        tmpDir("graft_dsirgate_ck2_"), minLogW = 0.0)
    }
    assert(bad.getMessage.contains("dsir_model"))
  }

  test("knnGateSink admits by seed-neighborhood vote: label allowlist, confidence floor, frozen-seed parity") {
    implicit val sqlCtx = spark.sqlContext
    // seed: two planted clusters, labels 1 (+x) and 2 (+y)
    def v(base: Seq[Double], i: Long): Seq[Double] =
      base.zipWithIndex.map { case (b, j) =>
        b + 0.001 * (((i * 31 + j * 17) % 11) - 5) }
    val seedDf = ((0L until 6L).map(i => (i, v(Seq(1.0, 0.0, 0.0), i), 1)) ++
      (10L until 16L).map(i => (i, v(Seq(0.0, 1.0, 0.0), i), 2)))
      .toDF("vec_id", "embedding", "label")
    val seedPath = tmpDir("graft_knngate_seed_")
    graft.ops.Similarity.buildLabelSeed(spark, seedDf,
      "vec_id", "embedding", "label", seedPath)
    val out = tmpDir("graft_knngate_out_")
    val mem = MemoryStream[(Long, Seq[Double])]
    // admit only label 1 at >= 0.75 confidence
    val q = Streams.knnGateSink(spark, mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", seedPath, out, tmpDir("graft_knngate_ck_"),
      k = 4, minVoteFrac = 0.75, admitLabels = Seq(1))
    val rows = Seq(
      (100L, Seq(0.99, 0.01, 0.0)),  // cluster-1: admitted
      (101L, Seq(0.01, 0.99, 0.0)),  // cluster-2: wrong label
      (102L, Seq(0.7, 0.7, 0.0)))    // mid: 2:2 split, vote_frac 0.5 < 0.75
    try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(out)
    assert(admitted.select("vec_id").as[Long].collect().toSet == Set(100L),
      "only the confident cluster-1 row clears the gate")
    // parity: the gate's surviving rows == the frozen batch classifier's
    val batchVotes = graft.ops.Similarity.knnClassify(
        spark.read.parquet(s"$seedPath/seed"), rows.toDF("vec_id", "embedding"),
        "id", "vec", "label", "vec_id", "embedding", k = 4,
        excludeSelf = false, broadcastLabeled = true)
      .where(col("vote_frac") >= 0.75 && col("pred_label") === 1)
      .select(col("q_id"), col("pred_label"), col("vote_frac"))
      .as[(Long, Int, Double)].collect().toSet
    assert(admitted.select("vec_id", "pred_label", "vote_frac")
      .as[(Long, Int, Double)].collect().toSet == batchVotes)
    // wrong-layout path fails fast at sink start
    val bad = intercept[IllegalArgumentException] {
      Streams.knnGateSink(spark, mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", tmpDir("graft_knngate_bad_"), out,
        tmpDir("graft_knngate_ck2_"), k = 4, minVoteFrac = 0.5)
    }
    assert(bad.getMessage.contains("knn_seed"))
  }

  test("knnGateSink opens the seed once at sink start: seed files added mid-stream do not vote") {
    implicit val sqlCtx = spark.sqlContext
    val seedDf = ((0L until 6L).map(i => (i, Seq(1.0, 0.0, 0.001 * i), 1)) ++
      (10L until 16L).map(i => (i, Seq(0.0, 1.0, 0.001 * i), 2)))
      .toDF("vec_id", "embedding", "label")
    val seedPath = tmpDir("graft_knngate_once_seed_")
    graft.ops.Similarity.buildLabelSeed(spark, seedDf,
      "vec_id", "embedding", "label", seedPath)
    val out = tmpDir("graft_knngate_once_out_")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.knnGateSink(spark, mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", seedPath, out, tmpDir("graft_knngate_once_ck_"),
      k = 4, minVoteFrac = 0.75, admitLabels = Seq(1))
    try {
      mem.addData((100L, Seq(0.99, 0.01, 0.0))); q.processAllAvailable()
      // a parquet file under seed/ planting label 3 right on cluster 1:
      // read per batch, it would outvote label 1 for the next row
      (1000L until 1010L).map(i => (i, Seq(1.0, 0.0, 0.0), 3))
        .toDF("id", "vec", "label").coalesce(1)
        .write.mode("append").parquet(s"$seedPath/seed")
      mem.addData((101L, Seq(0.98, 0.02, 0.0))); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(out).select("vec_id", "pred_label")
      .as[(Long, Int)].collect().toSet == Set((100L, 1), (101L, 1)))
  }

  test("quotaGateSink admits at most n ids per key over the stream's lifetime, md5-coin pick, re-arrivals inert") {
    implicit val sqlCtx = spark.sqlContext
    val state = tmpDir("graft_quota_state_")
    graft.ops.Sampling.buildQuotaState(spark, state, n = 2)
    val out = tmpDir("graft_quota_out_")
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.quotaGateSink(spark,
      mem.toDF().toDF("doc_id", "source", "text"),
      "doc_id", "source", state, out, tmpDir("graft_quota_ck_"))
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // batch 1: three srcA rows compete for 2 slots — the md5-coin pick
    val b1 = Seq((1L, "srcA", "a1"), (2L, "srcA", "a2"), (3L, "srcA", "a3"))
    val expectA = b1.map(_._1).sortBy(i => (md5Hex(i.toString), i)).take(2).toSet
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
        == expectA, s"md5-coin pick must take $expectA")
      // batch 2: srcA is exhausted (including a RE-ARRIVAL of an admitted
      // id — inert, no duplicate); srcB has budget
      mem.addData((4L, "srcA", "a4"), (expectA.head, "srcA", "dup"),
        (10L, "srcB", "b1")); q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSeq
      assert(rows.toSet == expectA + 10L,
        s"srcA quota exhausted, srcB admits: $rows")
      assert(rows.size == 3, s"re-arrival must not duplicate: $rows")
      // state is the bounded admitted SET, never a counter
      val st = spark.read.parquet(s"$state/admitted")
        .as[(String, Long)].collect().toSet
      assert(st == (expectA.map(("srcA", _)) + (("srcB", 10L))))
    } finally q.stop()
    // wrong-layout path fails fast at sink start
    val bad = intercept[IllegalArgumentException] {
      Streams.quotaGateSink(spark, mem.toDF().toDF("doc_id", "source", "text"),
        "doc_id", "source", tmpDir("graft_quota_bad_"), out,
        tmpDir("graft_quota_ck2_"))
    }
    assert(bad.getMessage.contains("quota_gate"))
  }

  test("tokenBudgetGateSink spends per-stratum token budgets across batches, batch-parity with tokenBudgetPrefix") {
    implicit val sqlCtx = spark.sqlContext
    val budgets = Map("srcA" -> 10L, "srcB" -> 5L)
    val state = tmpDir("graft_tbgate_state_")
    graft.ops.Sampling.buildTokenBudgetState(spark, state, budgets)
    val out = tmpDir("graft_tbgate_out_")
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.tokenBudgetGateSink(spark,
      mem.toDF().toDF("doc_id", "source", "n_tok"),
      "doc_id", "source", "n_tok", state, out, tmpDir("graft_tbgate_ck_"))
    // batch 1: four srcA rows of 4 tokens compete for 10 (greedy md5
    // prefix admits 2, spends 8); srcB's only row overflows its 5 and
    // stops the stratum; srcC is outside the recipe
    val b1 = Seq((1L, "srcA", 4L), (2L, "srcA", 4L), (3L, "srcA", 4L),
      (4L, "srcA", 4L), (10L, "srcB", 6L), (20L, "srcC", 1L))
    // the single-batch semantics IS the batch op — assert parity
    val expect1 = graft.ops.Sampling.tokenBudgetPrefix(
        b1.toDF("doc_id", "source", "n_tok"),
        "doc_id", "source", "n_tok", budgets)
      .select("doc_id").as[Long].collect().toSet
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      val got1 = spark.read.parquet(out).select("doc_id").as[Long]
        .collect().toSet
      assert(got1 == expect1, s"single-batch gate == tokenBudgetPrefix: " +
        s"$got1 vs $expect1")
      assert(got1.size == 2 && got1.subsetOf(Set(1L, 2L, 3L, 4L)) &&
        !got1.contains(10L) && !got1.contains(20L))
      // batch 2: srcA has 2 tokens left. md5 rank is 6 < 7 < 5, so the
      // 9-token id 7 overflows the prefix and BLOCKS id 5 behind it
      // (prefix semantics: the running sum includes dropped rows — no
      // best-fit repacking). srcB's untouched 5 fits id 11 exactly.
      mem.addData((5L, "srcA", 1L), (6L, "srcA", 1L), (7L, "srcA", 9L),
        (11L, "srcB", 5L))
      q.processAllAvailable()
      val got2 = spark.read.parquet(out).select("doc_id").as[Long]
        .collect().toSet
      assert(got2 == expect1 ++ Set(6L, 11L),
        s"remaining budgets spent across batches: $got2")
      // state is one bounded (key, batch_id, tokens) row per admitting
      // batch and stratum — the distinct-then-sum spend ledger
      val st = spark.read.parquet(s"$state/committed")
        .as[(String, Long, Long)].collect().toSet
      assert(st == Set(("srcA", 0L, 8L), ("srcA", 1L, 1L), ("srcB", 1L, 5L)),
        s"$st")
      // window (d) of the crash ladder: a delta that landed TWICE (the
      // replay-after-commit-death case re-appends byte-identically)
      // must not double-count — the ledger reads through DISTINCT, so
      // srcA still has 10-8-1 = 1 token left, not 10-16-1
      Seq(("srcA", 0L, 8L)).toDF("key", "batch_id", "tokens")
        .write.mode("append").parquet(s"$state/committed")
      mem.addData((8L, "srcA", 1L)); q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long]
          .collect().toSet.contains(8L),
        "a duplicated delta row must not halve the real budget")
    } finally q.stop()
    // wrong-layout path fails fast at sink start
    val bad = intercept[IllegalArgumentException] {
      Streams.tokenBudgetGateSink(spark,
        mem.toDF().toDF("doc_id", "source", "n_tok"),
        "doc_id", "source", "n_tok", tmpDir("graft_tbgate_bad_"), out,
        tmpDir("graft_tbgate_ck2_"))
    }
    assert(bad.getMessage.contains("token_budget_gate"))
  }

  test("tokenBudgetGateSink: same id twice in one batch spends once, at the max count") {
    // the within-batch collapse (Streams.scala groupBy(key,id)/max): the
    // upstream exact-dedup gate screens cross-batch re-arrivals but not
    // the same id landing twice in ONE batch with different token counts
    // (a re-crawled doc). A plain distinct() would rank both rows in the
    // prefix and spend the budget twice while the id-keyed semi-join
    // admits every row of the id anyway.
    implicit val sqlCtx = spark.sqlContext
    val state = tmpDir("graft_tbdup_state_")
    graft.ops.Sampling.buildTokenBudgetState(spark, state, Map("srcA" -> 10L))
    val out = tmpDir("graft_tbdup_out_")
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.tokenBudgetGateSink(spark,
      mem.toDF().toDF("doc_id", "source", "n_tok"),
      "doc_id", "source", "n_tok", state, out, tmpDir("graft_tbdup_ck_"))
    try {
      // id 1 arrives twice (counts 3 and 7), id 2 once (count 3): the
      // gate ranks ONE row for id 1 at max(3,7)=7, so 7+3=10 fits the
      // budget exactly — both ids admit. Double-spending (3+7+3=13)
      // would overflow and drop one.
      mem.addData((1L, "srcA", 3L), (1L, "srcA", 7L), (2L, "srcA", 3L))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSeq
      assert(rows.toSet == Set(1L, 2L),
        s"one ranked row per id at the max count admits both ids: $rows")
      // the admission is id-keyed (documented): every PHYSICAL row of an
      // admitted id passes the semi-join — both arrivals of id 1 land
      assert(rows.count(_ == 1L) == 2 && rows.size == 3, s"$rows")
      // the ledger spends ONCE, at the conservative max: 7 + 3 = 10
      val st = spark.read.parquet(s"$state/committed")
        .as[(String, Long, Long)].collect().toSet
      assert(st == Set(("srcA", 0L, 10L)),
        s"duplicate id must spend once at max(3,7): $st")
      // and the budget really is exhausted: nothing more admits
      mem.addData((3L, "srcA", 1L)); q.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id").as[Long]
        .collect().toSet == Set(1L, 2L), "budget spent exactly to 10")
    } finally q.stop()
  }

  test("stratifiedSample runs unchanged on a stream (stateless md5 filter)") {
    // mixture sampling is a pure deterministic filter, so the SAME
    // operator screens a firehose with zero state — and batch/stream
    // agree row-for-row on identical input
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val fracs = Map("keepall" -> 1.0, "half" -> 0.5, "drop" -> 0.0)
    val q = graft.ops.Sampling.stratifiedSample(
        mem.toDF().toDF("doc_id", "src"), "doc_id", "src", fracs)
      .writeStream.format("memory").queryName("strat_stream")
      .outputMode("append").start()
    val rows = (1L to 300L).map(i =>
      (i, Seq("keepall", "half", "drop")(((i - 1) % 3).toInt)))
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("strat_stream")
      .as[(Long, String)].collect().toSet
    val batch = graft.ops.Sampling.stratifiedSample(
        rows.toDF("doc_id", "src"), "doc_id", "src", fracs)
      .as[(Long, String)].collect().toSet
    assert(streamed == batch, "stream and batch must select identical rows")
    assert(!streamed.exists(_._2 == "drop") && streamed.count(_._2 == "keepall") == 100)
  }

  test("streaming data card accumulates per-source counters across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val card = Streams.dataCardStream(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      "text", "source", "lang", "n_chars")
    val q = card.writeStream.format("memory").queryName("card_out")
      .outputMode("update").start()
    try {
      mem.addData(
        (1L, "a b c", "en", "web", 5L),
        (2L, null.asInstanceOf[String], "en", "web", 0L))
      q.processAllAvailable()
      mem.addData((3L, "d e", "fr", "web", 3L), (4L, "x", "en", "books", 1L))
      q.processAllAvailable()
      // update mode re-emits a source's row each time it changes; the
      // sink's row order is an implementation detail, but n_docs only
      // grows — the row with the max count per source IS the latest state
      val rows = spark.table("card_out")
        .as[(String, Long, Long, Long, Double, Long)].collect()
      val last = rows.groupBy(_._1).view
        .mapValues(_.maxBy(_._2)).values.toSet
      assert(last == Set(
        ("web", 3L, 1L, 5L,
          BigDecimal(8.0 / 3).setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .toDouble, 2L),
        ("books", 1L, 0L, 1L, 1.0, 1L)))
    } finally q.stop()
  }

  test("semantic gate drops standing, within-batch and cross-batch near-dups") {
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val p = tmpDir("graft_semgate_")
    graft.ops.Similarity.buildIvfIndex(base, "vec_id", "embedding", p, nCells = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.semanticGateSink(spark,
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      p, tmpDir("graft_semgate_ck_"), tau = 0.95)
    try {
      // 10 ~= index vec 1 (standing dup); 11 novel; 12/13 a within-batch
      // near-identical pair (13 loses on id)
      mem.addData(
        (10L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
        (11L, Seq(0.5f, -0.5f, 0.5f, -0.5f)),
        (12L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
        (13L, Seq(-0.999f, -0.01f, 0.0f, 0.0f)))
      q.processAllAvailable()
      // 14 ~= 11, which was admitted LAST batch -> the standing screen
      // sees it (cross-batch); 15 is zero-norm -> excluded like a null
      // (un-matchable, and its append would not be replay-idempotent)
      mem.addData(
        (14L, Seq(0.5f, -0.5f, 0.5f, -0.5f)),
        (15L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$p/data")
        .select("vec_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 3L, 4L, 11L, 12L),
        "novel + lower-id reps admitted; standing/batch/cross-batch dups " +
          "and zero-norm rows dropped")
    } finally q.stop()
  }

  test("composed ingest line rung matches the batch removeFrequentLines twin") {
    implicit val sqlCtx = spark.sqlContext
    val wd = tmpDir("graft_cur_line_parity_")
    graft.ops.Dedup.buildExactKeyIndex(
      Seq((1L, "standing unrelated text")).toDF("doc_id", "text"),
      "text", s"$wd/keys")
    graft.ops.Dedup.buildGramIndex(
      Seq((1L, "standing unrelated text long enough to carry word grams fine"))
        .toDF("doc_id", "text"), "text", s"$wd/grams", w = 8)
    graft.ops.Similarity.buildIvfIndex(
      Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$wd/ivf", nCells = 1)
    graft.ops.Dedup.buildLineIndex(Seq(
        (1L, "cookie banner\nfiller a"),
        (2L, "cookie banner\nfiller b")).toDF("doc_id", "text"),
      "doc_id", "text", s"$wd/lines", minDocFreq = 2)

    // 10: standing chrome; 11: intra-doc line repeat (df counts DOCS ->
    // kept); 12: all chrome -> drops; 13: untouched
    val docs = Seq(
      (10L, "cookie banner\nalpha uno"),
      (11L, "promo line\nbeta dos\npromo line"),
      (12L, "cookie banner"),
      (13L, "gamma tres\ndelta quat"))

    // the batch twin, computed BEFORE the sink advances the index (the
    // sink's own b0 exclusion gives its probe this exact view)
    val batchDf = docs.toDF("doc_id", "text")
    val wb = graft.ops.Dedup.removeFrequentLines(batchDf, "doc_id", "text", 2)
    val twin = graft.ops.Dedup.removeLinesAgainstIndex(spark,
        wb.select(col("doc_id"), col("clean_text").as("text")),
        "doc_id", "text", s"$wd/lines")
      .join(wb.select(col("doc_id"), col("n_removed").as("_r1")), Seq("doc_id"))
      .where(col("clean_text") =!= "" || (col("n_removed") + col("_r1")) === 0)
      .select(col("doc_id"),
        regexp_replace(col("clean_text"), "\n", " ").as("text"))
      .as[(Long, String)].collect().toMap

    // all-vectorless batch: the gram rung passes these short distinct
    // texts (exact-identity screens miss) and the semantic rung is
    // bypassed, so the sink output IS the line rung's output
    val mem = MemoryStream[(Long, String, Array[Float])]
    val lineMetrics = new RungMetrics()
    val q = Streams.curationIngestSink(spark,
      mem.toDF().toDF("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding",
      s"$wd/keys", s"$wd/grams", s"$wd/ivf", s"$wd/out", s"$wd/ckpt",
      lineIndexPath = Some(s"$wd/lines"), metrics = Some(lineMetrics))
    try {
      mem.addData(docs.map(d => (d._1, d._2, Array.empty[Float])): _*)
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(s"$wd/out")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out == twin, s"sink line rung must match the batch twin: " +
      s"$out vs $twin")

    // with the line rung composed, the ladder carries its admission
    // count: 4 in, all past keys, 12 (all-chrome) drops at the line rung
    val ladder = lineMetrics.batches.head._2
    assert(ladder("rows_in") == 4L && ladder("keys") == 4L &&
      ladder("lines") == 3L && ladder("out_rows") == 3L,
      s"line-rung ladder: $ladder")
  }

  test("composed ingest learned rung: the frozen ppl screen drops the foreign plant") {
    implicit val sqlCtx = spark.sqlContext
    val wd = tmpDir("graft_cur_ppl_")
    graft.ops.Dedup.buildExactKeyIndex(
      Seq((1L, "standing unrelated text")).toDF("doc_id", "text"),
      "text", s"$wd/keys")
    graft.ops.Dedup.buildGramIndex(
      Seq((1L, "standing unrelated text long enough to carry word grams fine"))
        .toDF("doc_id", "text"), "text", s"$wd/grams", w = 8)
    graft.ops.Similarity.buildIvfIndex(
      Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$wd/ivf", nCells = 1)
    graft.ops.TextAnalysis.buildBigramLm(spark,
      Seq((0L, "the cat sat on the mat"), (1L, "the dog sat on the rug"))
        .toDF("doc_id", "text"), "text", s"$wd/lm")

    // 10/12 in-domain (~1.7 bits under the reference LM); 11 foreign
    // (all OOV-left -> log2(V)=2.807 bits) — cut at 2.2
    val docs = Seq(
      (10L, "the cat sat on the rug"),
      (11L, "le chat est sur le tapis"),
      (12L, "the dog sat on the mat"))
    val mem = MemoryStream[(Long, String, Array[Float])]
    val m = new RungMetrics()
    val q = Streams.curationIngestSink(spark,
      mem.toDF().toDF("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding",
      s"$wd/keys", s"$wd/grams", s"$wd/ivf", s"$wd/out", s"$wd/ckpt",
      metrics = Some(m),
      pplModelPath = Some(s"$wd/lm"), pplMaxBits = 2.2)
    try {
      mem.addData(docs.map(d => (d._1, d._2, Array.empty[Float])): _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$wd/out")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(10L, 12L), s"foreign doc must drop at the ppl rung: $out")
    // the rung sits before the standing-key probe: the ladder sees the drop
    val ladder = m.batches.head._2
    assert(ladder("rows_in") == 3L && ladder("keys") == 2L &&
      ladder("out_rows") == 2L, s"ladder: $ladder")
    // a wrong layout fails at sink START
    val bad = intercept[IllegalArgumentException] {
      Streams.curationIngestSink(spark,
        mem.toDF().toDF("doc_id", "text", "embedding"),
        "doc_id", "text", "embedding",
        s"$wd/keys", s"$wd/grams", s"$wd/ivf", s"$wd/out", s"$wd/ckpt2",
        pplModelPath = Some(s"$wd/keys"))
    }
    assert(bad.getMessage.contains("bigram_lm"))
  }

  test("capture stream reads files dropped into a directory") {
    val dir = tmpDir("graft_capture_")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """{"v": "one"}
        |{"v": "two"}""".stripMargin)
    val stream = Streams.captureStream(spark, dir, "json", schema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("capture_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("capture_out").count() == 2)
    } finally q.stop()
  }
}
