package org.apache.spark.graftbridge

import java.io.File
import org.apache.spark.util.ShutdownHookManager

/** Bridge to Spark's `private[spark]` shutdown-hook manager: a directory
  * registered here is deleted with everything in it when the JVM exits,
  * in the same hook that removes Spark's own temporary directories
  * (`File.deleteOnExit` removes only an empty directory).
  */
object ShutdownDelete {
  def register(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)
}
