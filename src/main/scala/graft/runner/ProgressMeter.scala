package graft.runner

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Progress-metered writes (reference K5: every ETL sink wraps
  * `.progress(10000, out=lg)` — /root/reference/dasladen/task.py:200,243,
  * 277,314,345,387,433): a tick line in the per-task log each time the
  * cumulative written-row count crosses a 10k boundary, plus a final
  * total line.
  *
  * Row counts come from three sources:
  *  - a single-file CSV write: its one task counts the rows it writes and
  *    returns the count ([[graft.sinks.CsvSink]]); `Tasks.etl` feeds it to
  *    [[record]] on the driver, so that write needs no listener and no
  *    listener-bus drain.
  *  - native output metrics (`recordsWritten`) of each completed Spark
  *    task, seen by the listener [[metered]] registers — zero overhead,
  *    plan untouched; covers every other file/table sink (the single-file
  *    CSV task reports them too, for a meter listening around it).
  *  - a named per-meter accumulator incremented by [[wrap]] — covers JDBC
  *    sinks, where Spark's writer leaves output metrics at 0. A task
  *    reporting both (a wrapped file write) contributes the max of the
  *    two, never the sum.
  *
  * Scale notes: this is a driver-side listener aggregating O(#tasks)
  * events — no extra shuffle, no collect, and file sinks keep whole-stage
  * codegen (only JDBC sinks pay the [[wrap]] row pass, which is noise
  * next to the network insert). With parallel writers the cumulative
  * count crosses boundaries in jumps, so cadence is "a line at least
  * every 10k rows" — the reference's single-threaded stream emits exactly
  * one per 10k, ours may batch several boundaries into one crossing.
  * The runner executes tasks sequentially (reference semantics), so the
  * session-global listener observes only its own task's writes.
  */
final class ProgressMeter(log: TaskLog, every: Long = 10000L) extends SparkListener {
  private val total = new AtomicLong()
  private val t0 = System.nanoTime()
  private val accName = s"graft.progress.${System.identityHashCode(this)}"

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    // failed / killed (speculative) attempts still report partial
    // recordsWritten and accumulator updates; counting them would inflate
    // the authoritative final total
    if (e.reason != org.apache.spark.Success) return
    val fromMetrics =
      Option(e.taskMetrics).map(_.outputMetrics.recordsWritten).getOrElse(0L)
    val fromAcc = e.taskInfo.accumulables
      .find(_.name.contains(accName))
      .flatMap(_.update)
      .collect { case n: Long => n }
      .getOrElse(0L)
    val n = math.max(fromMetrics, fromAcc)
    if (n > 0) add(n)
  }

  private def add(n: Long): Unit = {
    val before = total.getAndAdd(n)
    val after = before + n
    var mark = (before / every + 1) * every
    while (mark <= after) { tick(mark); mark += every }
  }

  private def tick(rows: Long): Unit = {
    val secs = (System.nanoTime() - t0) / 1e9
    log.write(f"$rows%d rows in $secs%.2f s (${rows / math.max(secs, 1e-9)}%.0f rows/s)")
  }

  def totalRows: Long = total.get

  /** Count rows through an accumulator for sinks without output metrics
    * (JDBC). A narrow per-partition pass in the same task as the write —
    * no shuffle, no extra job.
    */
  def wrap(df: DataFrame): DataFrame = {
    val a = df.sparkSession.sparkContext.longAccumulator(accName)
    df.mapPartitions { it =>
      it.map { r => a.add(1); r }
    }(Encoders.row(df.schema))
  }

  /** Run a write with this meter listening; always logs the final total. */
  def metered[A](spark: SparkSession)(body: => A): A = {
    spark.sparkContext.addSparkListener(this)
    try body
    finally {
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 5000)
      spark.sparkContext.removeSparkListener(this)
      logTotal()
    }
  }

  /** Counts `rows` that a finished write reported on the driver, ticking
    * the marks they cross, and logs the final total, as [[metered]] does
    * once its write has ended.
    */
  def record(rows: Long): Unit = {
    add(rows)
    logTotal()
  }

  private def logTotal(): Unit = {
    val secs = (System.nanoTime() - t0) / 1e9
    log.write(f"${total.get}%d rows written in $secs%.2f s")
  }
}
