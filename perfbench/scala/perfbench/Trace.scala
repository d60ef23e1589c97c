package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into a layer's public function. `parent` is the span
  * that was open when this one started (0 at top level); spans of one
  * measured unit share `run`.
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Wall-clock interval in epoch ms, the time base of Spark's events. */
  def wallMs: (Long, Long) = (Trace.epochMs(startNs), Trace.epochMs(endNs))
}

/** Spark work attributed to one span: every job carries the id of the
  * span that submitted it as a local property, so its stages and tasks
  * land on that span exactly (no time-window guessing).
  */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder plus the listeners that observe the Spark
  * boundary. Off by default: every `span` call is then a bare call of
  * its body. The benchmark drives the program from one thread, so the
  * open-span stack is plain state.
  */
final class Trace(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var run = ""
  private val counters = new ConcurrentHashMap[Int, SparkCounters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val Key = "perfbench.span"

  private def countersOf(span: Int): SparkCounters =
    counters.computeIfAbsent(span, _ => new SparkCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(0)
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      countersOf(span).synchronized { countersOf(span).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = jobSpan.getOrDefault(e.jobId, 0)
      val c = countersOf(span)
      c.synchronized { c.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time), e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageId, 0))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // planning phases (analysis, optimization, physical planning) of every
  // executed query, as (epoch ms of the first phase, summed ms); the
  // listener runs on its own thread, so attribution is by time window
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        planning.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  @volatile var on = false

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000)

  def startRun(id: String): Unit = run = id

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, run, t0, t1)
      }
    }

  /** Self time per span name: duration minus the union of the intervals
    * its direct children cover (children never overlap on one thread,
    * so the union is their sum).
    */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    of.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    of.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  /** Spark counters summed over the given spans. */
  def sparkOf(of: Seq[Span]): SparkCounters = {
    val total = new SparkCounters
    of.foreach { s =>
      Option(counters.get(s.id)).foreach { c =>
        c.synchronized {
          total.jobs += c.jobs; total.stages += c.stages; total.tasks += c.tasks
          total.runMs += c.runMs; total.cpuNs += c.cpuNs; total.gcMs += c.gcMs
          total.shuffleWriteBytes += c.shuffleWriteBytes
          total.spillBytes += c.spillBytes
          total.jobIntervals ++= c.jobIntervals
        }
      }
    }
    total
  }

  /** Planning ms of the queries that started inside the given spans. */
  def planningMs(of: Seq[Span]): Long = {
    val windows = of.map(_.wallMs)
    var total = 0L
    planning.forEach { case (start, ms) =>
      if (windows.exists { case (a, b) => start >= a && start <= b }) total += ms
    }
    total
  }

  /** Spans as JSON lines: name, start, end, parent and run id. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "run": "${s.run}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Long = (ns + offsetNs) / 1000000L

  /** Total length of the union of [start, end] intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
