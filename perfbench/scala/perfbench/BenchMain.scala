package perfbench

import graft.runner.{ProgressMeter, TaskLog}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM:
  *
  *   perfbench.BenchMain --workload W --seed N --seconds S --trace 0|1
  *                       --data DIR --work DIR --out FILE
  *
  * Builds the session the way `graft.Main` does (several times; the
  * median is the set-up figure), runs the workload's unit once cold and
  * `--warmup` more times untimed, then repeats it for S seconds. With
  * `--trace 1` the warm window alternates the program's own path with
  * the span-traced assembly of the same unit, and the per-layer figures
  * come from the spans and the Spark listeners. Raw figures go to
  * `--out` as JSON; `run.py` turns them into the reported metrics and
  * checks the dumped outputs.
  */
object BenchMain {
  val SetupRepeats = 9
  val Cpus = "4"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o("workload")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val data = o("data")
    val work = o("work")
    val rows: Map[String, Long] = scala.io.Source.fromFile(s"$data/counts.txt")
      .getLines().map(_.split("=")).collect { case Array(k, v) => k -> v.toLong }.toMap

    // set-up as a one-shot `graft.Main` user pays it: session build plus
    // the SQL function registration, repeated in a fresh context
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = graft.Main.buildSession(Cpus)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) s.stop()
      dt
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("WARN")

    val wl: Workload = name match {
      case "etl_bulk" => new EtlBulk(spark, data, work, rows)
      case "etl_many_small" => new EtlManySmall(spark, data, work, o("seed").toLong,
        o("small_rows").toLong, o("small_pool").toInt)
      case "sql_relational" | "ops_expr" =>
        new SqlPasses(spark, s"$data/tables", o("queries").split(",").toSeq, rows)
    }
    wl.prepare()

    var attempted = 0
    var failed = 0
    def timedUnit(k: Int): (Double, Seq[Double]) = {
      wl.stage(k)
      val t0 = System.nanoTime()
      val (lat, f) = wl.unit(k)
      val dt = (System.nanoTime() - t0) / 1e9
      attempted += lat.size
      failed += f
      (dt, lat)
    }

    val (cold, _) = timedUnit(0)
    // more units outside the window: the first warm units still sit on
    // the steep part of the JIT warm-up, and how many of them the window
    // held would move the median
    val warmup = o("warmup").toInt
    if (wl.outputsFixed) wl.dumpOutputs(s"$work/check")
    (1 to warmup).foreach(timedUnit)
    val units = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    val tracedUnits = mutable.ArrayBuffer.empty[Double]
    val tr = new Trace(spark)
    val logDir = s"$work/log"
    var logFiles = 0
    var k = warmup + 1
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def untracedUnit(): Unit = {
      val (dt, lat) = timedUnit(k)
      units += dt
      ops ++= lat
      k += 1
    }
    def tracedUnit(): Unit = {
      tr.attach()
      tr.on = true
      tr.startRun(s"u$k")
      val before = Etl.fileCount(logDir)
      wl.stage(k)
      val t0 = System.nanoTime()
      try tr.span("bench.unit")(wl.tracedUnit(k, tr))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] traced unit $k failed: $e"); failed += 1
      }
      tracedUnits += (System.nanoTime() - t0) / 1e9
      tr.on = false
      tr.detach()
      logFiles += Etl.fileCount(logDir) - before
      attempted += 1
      k += 1
    }
    // traced runs alternate which side of each pair goes first; the
    // overhead is the median of the paired differences
    var pair = 0
    while (elapsed < seconds || units.isEmpty || (traced && tracedUnits.isEmpty)) {
      if (traced && pair % 2 == 1) { tracedUnit(); untracedUnit() }
      else { untracedUnit(); if (traced) tracedUnit() }
      pair += 1
    }
    val overhead = median(tracedUnits.toSeq.zip(units).map { case (t, u) => t - u })

    val layers: Seq[(String, Double)] =
      if (!traced) Nil
      else layerMetrics(spark, wl, tr, o("all_queries").split(",").toSeq,
        tracedUnits.size, logFiles, overhead)
    if (traced) tr.write(s"$work/spans.jsonl")
    if (!wl.outputsFixed) wl.dumpOutputs(s"$work/check")

    val body = Json.obj(Seq(
      "setup_s" -> Json.arr(setups),
      "cold_run_s" -> Json.num(cold),
      "unit_s" -> Json.arr(units.toSeq),
      "op_s" -> Json.arr(ops.toSeq),
      "traced_unit_s" -> Json.arr(tracedUnits.toSeq),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "input_rows" -> wl.inputRows.toString,
      "layers" -> Json.obj(layers.map { case (n, v) => n -> Json.num(v) })))
    Files.writeString(Paths.get(o("out")), body)
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Every per-layer figure, averaged per traced unit. A layer the
    * workload does not exercise reads 0.
    */
  def layerMetrics(spark: SparkSession, wl: Workload, tr: Trace, queries: Seq[String], n: Int,
                   logFiles: Int, overhead: Double): Seq[(String, Double)] = {
    val spans = tr.spans.toSeq
    val self = tr.selfSeconds(spans).withDefaultValue(0.0)
    def selfOf(names: String*) = names.map(self).sum / n
    def selfPrefix(p: String) = self.collect { case (k, v) if k.startsWith(p) => v }.sum / n
    def incl(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    def sparkIn(name: String) = tr.sparkOf(spans.filter(_.name == name))
    val probes = wl.probes().withDefaultValue(0.0)
    val drain = median((1 to 5).map { _ =>
      Probes.time(new ProgressMeter(TaskLog.Silent).metered(spark)(()))
    })
    val (jdbcRows, jdbcSecs) = Probes.jdbcRows.foldLeft((0L, 0.0)) {
      case ((r, s), (r2, s2)) => (r + r2, s + s2)
    }
    val perUnit = spans.filter(_.name == "bench.unit").map { u =>
      val c = tr.sparkOf(spans.filter(_.run == u.run))
      val planning = tr.planningMs(Seq(u)) / 1000.0
      val inJobs = Trace.unionMs(c.jobIntervals.toSeq) / 1000.0
      (c, planning, u.seconds - inJobs - planning)
    }
    def sparkSum(f: SparkCounters => Double) = perUnit.map(u => f(u._1)).sum / n

    Seq(
      "sinks.csv_single_s" -> selfOf("sinks.csv_single"),
      "sinks.csv_write_tasks" -> sparkIn("sinks.csv_single").tasks.toDouble / n,
      "sinks.csv_distributed_s" -> probes("sinks.csv_distributed_s"),
      "sinks.bytes_out" -> Probes.bytesOut.sum.toDouble / n,
      "connections.jdbc_write_s" -> selfOf("connections.jdbc_write"),
      "connections.jdbc_write_rows_per_s" -> (if (jdbcSecs > 0) jdbcRows / jdbcSecs else 0.0),
      "connections.jdbc_read_s" -> probes("connections.jdbc_read_s"),
      "connections.exec_sql_s" -> selfOf("connections.exec_sql"),
      "connections.init_s" -> selfOf("connections.init"),
      "sources.csv_scan_s" -> probes("sources.csv_scan_s"),
      "sources.csv_self_s" -> selfOf("sources.csv"),
      "sources.csv_header_jobs" -> sparkIn("sources.csv").jobs.toDouble / n,
      "transform.self_s" -> selfOf("transform.apply"),
      "transform.analysis_s" -> probes("transform.analysis_s"),
      "tasks.empty_probe_s" -> selfOf("tasks.empty_probe"),
      "tasks.csv_csv_s" -> incl("tasks.csv_csv"),
      "tasks.csv_db_s" -> incl("tasks.csv_db"),
      "tasks.db_csv_s" -> incl("tasks.db_csv"),
      "tasks.sql_exec_s" -> incl("tasks.sql_exec"),
      "config.parse_s" -> selfPrefix("config."),
      "watch.self_s" -> selfOf("watch.check"),
      "runner.run_s" -> selfPrefix("runner."),
      "runner.meter_drain_s" -> drain,
      "runner.log_files" -> logFiles.toDouble / n,
      "spark.planning_s" -> perUnit.map(_._2).sum / n,
      "spark.outside_jobs_s" -> perUnit.map(_._3).sum / n,
      "spark.jobs" -> sparkSum(_.jobs.toDouble),
      "spark.stages" -> sparkSum(_.stages.toDouble),
      "spark.tasks" -> sparkSum(_.tasks.toDouble),
      "spark.executor_run_s" -> sparkSum(_.runMs / 1000.0),
      "spark.executor_cpu_s" -> sparkSum(_.cpuNs / 1e9),
      "spark.gc_s" -> sparkSum(_.gcMs / 1000.0),
      "spark.shuffle_write_bytes" -> sparkSum(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> sparkSum(_.spillBytes.toDouble),
      "trace.units" -> n.toDouble,
      "trace.overhead_s" -> overhead) ++
      queries.map(q => s"queries.${q}_s" -> incl(s"queries.$q"))
  }
}
