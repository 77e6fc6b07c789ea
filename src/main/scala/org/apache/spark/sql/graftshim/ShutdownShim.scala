package org.apache.spark.sql.graftshim

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Spark's own delete-on-exit for scratch directories, which is
  * `private[spark]`. Its hook runs after the SparkContext has stopped,
  * so a frame still reading a registered directory is never cut off
  * mid-query.
  */
object ShutdownShim {
  def deleteOnExit(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)

  def deletesOnExit(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
