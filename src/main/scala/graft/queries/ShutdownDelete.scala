package org.apache.spark.graft

import java.io.File
import org.apache.spark.util.ShutdownHookManager

/** `private[spark]` access shim (the pattern of [[ListenerBridge]]): Spark's
  * own JVM-exit hook deletes registered directories, the way it clears its
  * local dirs.
  */
object ShutdownDelete {
  def register(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)
  def registered(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
