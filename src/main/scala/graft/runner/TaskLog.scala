package graft.runner

import java.io.{File, FileWriter, PrintWriter}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** File-based logging with the reference's naming scheme
  * (/root/reference/dasladen/log.py:16-27, 73-97): a per-run log plus a
  * per-task `log/<type>_<name>_<ts>.log` file, with optional console echo.
  */
trait TaskLog {
  def write(msg: String): Unit
  def close(): Unit = ()
}

object TaskLog {
  /** `DD_HHMMSS`-style timestamp used in reference log file names. */
  def timeFilename(): String =
    LocalDateTime.now.format(DateTimeFormatter.ofPattern("dd_HHmmss"))

  object Console extends TaskLog {
    def write(msg: String): Unit = println(s"[graft] $msg")
  }

  object Silent extends TaskLog {
    def write(msg: String): Unit = ()
  }

  /** Writes to a file, optionally echoing to the console. The file is
    * opened on the first write: a log that is never written leaves none.
    * Synchronized: a progress meter writes from Spark's listener thread.
    */
  final class FileLog(path: String, verbose: Boolean) extends TaskLog {
    private var out: PrintWriter = null
    def write(msg: String): Unit = synchronized {
      if (out == null) {
        Option(new File(path).getParentFile).foreach(_.mkdirs())
        out = new PrintWriter(new FileWriter(path, true))
      }
      val line = s"${LocalDateTime.now.format(DateTimeFormatter.ISO_LOCAL_DATE_TIME)} $msg"
      out.println(line)
      out.flush()
      if (verbose) println(line)
    }
    override def close(): Unit = synchronized { if (out != null) out.close() }
  }

  def forRun(logDir: String, verbose: Boolean): TaskLog =
    new FileLog(s"$logDir/watcher_${timeFilename()}.log", verbose)

  def forTask(logDir: String, taskType: String, name: String): TaskLog =
    new FileLog(s"$logDir/${taskType}_${name}_${timeFilename()}.log", verbose = false)
}
