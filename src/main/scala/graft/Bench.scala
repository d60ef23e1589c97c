package graft
import org.apache.spark.sql.SparkSession // the exec callback signature

/** Bench protocol (BASELINE.md): fixed query order (sorted by name), one
  * untimed warm-up pass (JVM/codegen/file-listing warm-up — round 1 showed
  * a 4.5 s first-query outlier that was pure warm-up), then 3 timed passes
  * per query; the reported figure is the per-query MEDIAN, so round-over-
  * round regressions are signal, not scheduling noise.
  *
  * Execution is a noop-sink write: unlike `count()`, which lets Catalyst
  * prune every column not needed for counting, the noop sink materializes
  * the full result of the declared plan — the honest cost of the query.
  *
  * THE RECORD GATE (round-19, codifying BASELINE.md's reading rule into
  * the tool after three rounds of steal-contaminated driver artifacts):
  * an attempt whose figures fail any of
  *
  *   - 1-minute loadavg (before or during) > 25% of cores,
  *   - hypervisor steal across the run > 2% of the run's core-seconds,
  *   - box probe > 1.15× the banked probe baseline,
  *   - band-drift FLOOD: more than max(5, 10% of banked queries)
  *     drifting past 1.25× normalized — the blind-mode detector (see
  *     the Attempt scaladoc)
  *
  * is NOT a record — the harness refuses to bank it and automatically
  * re-runs the timed suite, up to `SPARK_GRAFT_BENCH_ATTEMPTS` (default
  * 3) attempts. Every attempt's summary stays in the artifact (the
  * `attempts` ledger) so the retry adjudication is reviewable; if no
  * attempt passes, the best-normalized one is reported with
  * `record: false` — a figure to read normalized, never to bank.
  */
object Bench {

  /** One timed pass over the full suite, with its own contention
    * evidence. `record` is the bank gate above, PLUS the band-count
    * check: the direct contention flags all have a blind mode (a
    * virtualized box can run the multi-core suite uniformly slow while
    * the single-thread probe reads fast, loadavg stays flat and steal
    * stays under the 2% line — observed twice, r16 and r19), but the
    * BAND sees it: a mechanically-quiet attempt whose per-query drift
    * count explodes (> max(5, 10% of banked queries) past 1.25×
    * normalized) is a slow window, not 20 simultaneous code
    * regressions, and is refused like any contended attempt. A REAL
    * broad regression exhausts the retries and reports `record: false`
    * — which is the correct outcome: a figure to adjudicate, never to
    * silently bank.
    */
  private case class Attempt(
      timings: Seq[(String, Double, Seq[Double])],
      rerun: Map[String, (String, Double, Seq[Double])],
      loadBefore: String,
      loadAfter: String,
      loadDuringMax: Double,
      stealS: Double,
      probeS: Double,
      boxFactor: Double,
      bandDrift: Seq[(String, Double)],
      bandSize: Int) {
    val total: Double = timings.map(_._2).filter(_ >= 0).sum
    val cores: Int = Runtime.getRuntime.availableProcessors()
    val stealContended: Boolean = stealS > 0.02 * total * cores
    val loadContended: Boolean = BenchHarness.contended(loadBefore) ||
      BenchHarness.contended(s"$loadDuringMax")
    val contended: Boolean = loadContended || stealContended
    val bandFlood: Boolean =
      bandDrift.size > math.max(5, bandSize / 10)
    val record: Boolean = !contended && boxFactor <= 1.15 && !bandFlood
  }

  def main(args: Array[String]): Unit = {
    import BenchHarness.sfDir
    val runs = BenchHarness.env("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val attemptsMax =
      BenchHarness.env("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt
    val cpus = BenchHarness.cpus(default = 4)
    val spark = BenchHarness.session(cpus)
    graft.functions.VectorFunctions.registerSql(spark)

    // SPARK_GRAFT_BENCH_ONLY: comma-separated selectors — iterate on one
    // query family without paying the full-suite wall clock. A selector
    // matches the full query name or its leading qNN token (ONLY=q10
    // selects q10_asof, NOT q100–q103 — with three-digit ids a raw
    // prefix would silently over-select families). Unset = the full
    // protocol run (the only form BASELINE.md records).
    val only = BenchHarness.env("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.isEmpty || only.exists(s => s == n || s == n.takeWhile(_ != '_'))
      }

    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // cross-round band (the r16 q97 lesson): BENCH_BAND.json banks
    // per-query NORMALIZED medians (tools/make_band.py regenerates it
    // from a trusted round artifact); any query whose normalized median
    // drifts past 1.25x its banked figure AND 1.25x the run's own
    // median drift lands in band_drift (the relative rule keeps a
    // uniformly-slow box from flooding the field and burying the one
    // real regression). Sub-50ms banked figures are skipped (scheduler
    // noise dominates them). Loaded BEFORE the attempt loop: each
    // attempt's drift count feeds its record gate (bandFlood).
    val bandPath = java.nio.file.Paths.get(
      BenchHarness.env("SPARK_GRAFT_BENCH_BAND", "BENCH_BAND.json"))
    val band: Map[String, Double] =
      if (!java.nio.file.Files.exists(bandPath)) Map.empty
      else org.json4s.jackson.JsonMethods
        .parse(new String(java.nio.file.Files.readAllBytes(bandPath), "UTF-8"))
        match {
          case org.json4s.JObject(fields) => fields.collect {
            case (k, org.json4s.JDouble(v)) => k -> v
            case (k, org.json4s.JInt(v)) => k -> v.toDouble
            case (k, org.json4s.JDecimal(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
    // the band is banked at one scale (sf0.1, stamped as "_sf"); a run
    // at any other sf skips the check rather than false-flagging
    val runSf = sfDir.split("sf").lastOption
      .map(_.stripSuffix("/")).flatMap(_.toDoubleOption)
    val sfMatches = (band.get("_sf"), runSf) match {
      case (Some(b), Some(r)) => math.abs(b - r) < 1e-12
      case (Some(_), None)    => false
      case (None, _)          => true
    }
    def bandCheck(timings: Seq[(String, Double, Seq[Double])],
                  boxFactor: Double): (Seq[(String, Double)], Int) = {
      val ratios =
        if (!sfMatches) Seq.empty
        else timings.flatMap { case (name, m, _) =>
          band.get(name).collect {
            case b if m >= 0 && b >= 0.05 => name -> (m / boxFactor) / b
          }
        }
      val bandMedian =
        if (ratios.isEmpty) 1.0
        else ratios.map(_._2).sorted.apply(ratios.size / 2)
      (ratios.filter { case (_, r) => r > 1.25 && r > 1.25 * bandMedian },
        ratios.size)
    }

    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Seq[Double]) = {
      // keep every sample so a one-off outlier (GC pause, page cache
      // miss, driver contention) is visible in the artifact instead of
      // silently shaping the median
      val samples = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { exec(fn); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      val ok = samples.filter(_ >= 0).sorted
      val median = if (ok.isEmpty) -1.0 else ok(ok.size / 2)
      (name, median, samples)
    }

    /** One full timed attempt: contention bookends (loadavg + steal +
      * box probe), the timed passes with during-run load sampling, and
      * the within-attempt transient rerun rule.
      */
    def runAttempt(): Attempt = {
      val loadBefore = BenchHarness.loadavg
      val stealBefore = BenchHarness.stealSeconds
      if (BenchHarness.contended(loadBefore))
        System.err.println(s"WARNING: bench starting on a contended box " +
          s"(loadavg $loadBefore > 25% of cores); figures will be inflated")
      // box-speed calibration: loadavg only sees CONCURRENT load; the
      // probe sees a slower CPU profile too (round 13's uniform 1.26×
      // inflation tripped neither flag).
      val probeS = BenchHarness.cpuProbe()
      val boxFactor = probeS / BenchHarness.probeBaseline
      if (boxFactor > 1.15)
        System.err.println(f"WARNING: box probe $probeS%.3f s = " +
          f"$boxFactor%.2fx the recorded baseline; raw figures will read " +
          "slow — compare normalized")
      // during-run load sampling: loadavg_before only sees load that
      // predates the run — BENCH_r14/r15 both carried load spikes that
      // LANDED mid-run and were invisible in the artifact. One
      // 1-minute-loadavg read after each query makes the worst
      // concurrent load part of the record.
      var loadDuringMax = 0.0
      def sampleLoad(): Unit = {
        val l = BenchHarness.loadavg.split(" ").headOption
          .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
        if (l > loadDuringMax) loadDuringMax = l
      }
      val firstPass = queries.map { case (name, fn) =>
        val r = timeQuery(name, fn); sampleLoad(); r
      }
      // self-adjudication (the BASELINE.md rule): a query whose warm
      // samples spread more than 3x with the slowest above 0.3 s was hit
      // by something transient (GC, page-cache miss, a load spike) — the
      // r15 q52b anomaly's exact signature. Flagged queries get ONE
      // rerun at the end (the spike has usually passed); the reported
      // median is the BETTER of the two (noise only ever adds time),
      // and both sample sets stay in the artifact.
      def suspect(samples: Seq[Double]): Boolean = {
        val ok = samples.filter(_ >= 0)
        ok.size >= 2 && ok.max > 0.3 && ok.max / ok.min.max(1e-9) > 3.0
      }
      val rerun = firstPass.filter { case (_, _, s) => suspect(s) }
        .map { case (name, _, _) =>
          val r = timeQuery(name, queries.toMap.apply(name)); sampleLoad(); r
        }.map(r => r._1 -> r).toMap
      val timings = firstPass.map { case (name, median, samples) =>
        rerun.get(name) match {
          case Some((_, m2, _)) if m2 >= 0 && (median < 0 || m2 < median) =>
            (name, m2, samples)
          case _ => (name, median, samples)
        }
      }
      val loadAfter = BenchHarness.loadavg
      // hypervisor steal across the run: the round-16 observed mode the
      // probe and loadavg both miss (uniform multi-core slowdown, probe
      // fast, load flat).
      val stealAfter = BenchHarness.stealSeconds
      val stealS =
        if (stealBefore < 0 || stealAfter < 0) -1.0
        else stealAfter - stealBefore
      val (drift, bandSize) = bandCheck(timings, boxFactor)
      Attempt(timings, rerun, loadBefore, loadAfter, loadDuringMax,
        stealS, probeS, boxFactor, drift, bandSize)
    }

    // warm-up pass: untimed, once — JIT/codegen/file listings stay warm
    // across retry attempts
    queries.foreach { case (_, fn) =>
      try exec(fn) catch { case _: Throwable => () }
    }
    // THE RECORD GATE: retry while an attempt fails it, up to the cap;
    // the ledger keeps every attempt's summary for adjudication
    var ledger = Vector(runAttempt())
    while (!ledger.last.record && ledger.size < attemptsMax) {
      val a = ledger.last
      System.err.println(f"attempt ${ledger.size} is not a record " +
        f"(steal ${a.stealS}%.1f s, box ${a.boxFactor}%.2fx, " +
        f"load max ${a.loadDuringMax}%.2f, " +
        f"band drift ${a.bandDrift.size}/${a.bandSize}) — retrying " +
        f"(${attemptsMax - ledger.size} attempt(s) left)")
      ledger :+= runAttempt()
    }
    // the reported attempt: the first record, else best-normalized
    val chosen = ledger.find(_.record)
      .getOrElse(ledger.minBy(a => a.total / a.boxFactor))
    val timings = chosen.timings
    val bandDrift = chosen.bandDrift

    def fmt(d: Double): String = BenchHarness.fmt(d, scale = 6)
    // stdout line stays SHORT (3-decimal medians, no samples): the driver
    // scrapes a bounded tail of the sbt log, and rounds 1-4 all recorded
    // "parsed": null because the full samples JSON outgrew that window
    def fmt3(d: Double): String = BenchHarness.fmt(d, scale = 3)
    val qs = timings.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val qs3 = timings.map { case (k, v, _) => "\"" + k + "\":" + fmt3(v) }
      .mkString("{", ",", "}")
    val ss = timings.map { case (k, _, s) =>
      "\"" + k + "\":" + s.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = chosen.total
    val rr = chosen.rerun.values.map { case (k, m, s) =>
      "\"" + k + "\":{\"median\":" + fmt(m) + ",\"samples\":" +
        s.map(fmt).mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    val probe = s""""probe_s":${fmt3(chosen.probeS)},""" +
      s""""box_factor":${fmt3(chosen.boxFactor)},""" +
      s""""value_normalized":${fmt3(total / chosen.boxFactor)}"""
    val bd = bandDrift.map { case (k, r) => "\"" + k + "\":" + fmt3(r) }
      .mkString("{", ",", "}")
    // the attempt ledger: every attempt's gate evidence, reviewable
    val ledgerJson = ledger.zipWithIndex.map { case (a, i) =>
      s"""{"attempt":${i + 1},"total":${fmt3(a.total)},""" +
        s""""steal_s":${fmt3(a.stealS)},"box_factor":${fmt3(a.boxFactor)},""" +
        s""""loadavg_during_max":${fmt3(a.loadDuringMax)},""" +
        s""""band_drift_n":${a.bandDrift.size},""" +
        s""""contended":${a.contended},"record":${a.record}}"""
    }.mkString("[", ",", "]")
    val sha = BenchHarness.gitSha().fold("null")(s => "\"" + s + "\"")
    val shared =
      s""""runs":$runs,"sf":"$sfDir","cpus":$cpus,""" +
        s""""git_sha":$sha,""" +
        s""""loadavg_before":"${chosen.loadBefore}",""" +
        s""""loadavg_after":"${chosen.loadAfter}",""" +
        s""""loadavg_during_max":${fmt3(chosen.loadDuringMax)},""" +
        s""""steal_s":${fmt3(chosen.stealS)},""" +
        s""""contended":${chosen.contended},"record":${chosen.record},""" +
        s""""attempts":$ledgerJson"""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"samples":$ss,"rerun":$rr,"band_drift":$bd,$shared,$probe}"""
    // full JSON (with per-sample arrays) is the file artifact of record;
    // a filtered run is NOT the record — it lands in BENCH_FILTERED.json
    // (gitignored scratch) so iterating on one family can never clobber
    // the full-suite BENCH_LOCAL.json
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (only.isEmpty) "BENCH_LOCAL.json" else "BENCH_FILTERED.json"))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    println(
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qs3,"runs":$runs,"sf":"$sfDir","loadavg_during_max":${fmt3(chosen.loadDuringMax)},"steal_s":${fmt3(chosen.stealS)},"contended":${chosen.contended},"record":${chosen.record},"attempt_n":${ledger.size},"rerun_n":${chosen.rerun.size},"band_drift":$bd,$probe}""")
    // LAST line: a compact summary that FITS the driver's bounded log
    // tail. The full contract line above (with the 171-entry per-query
    // map) is ~5 KB — every driver round through r19 recorded
    // "parsed": null because the scraped tail window is 2000 chars and
    // the line's START falls outside it (BENCH_r01..r19 all carry
    // tail_len=2000). 171 names alone exceed 2.5 KB, so no encoding of
    // the per-query map can fit; the full map stays one line up and in
    // the $out artifact of record. This line carries the total and every
    // gate field in < 400 chars so the driver can finally parse the run.
    println(
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","n_queries":${timings.size},"runs":$runs,"sf":"$sfDir","loadavg_during_max":${fmt3(chosen.loadDuringMax)},"steal_s":${fmt3(chosen.stealS)},"contended":${chosen.contended},"record":${chosen.record},"attempt_n":${ledger.size},"rerun_n":${chosen.rerun.size},"band_drift_n":${bandDrift.size},$probe}""")
    spark.stop()
  }
}
