package org.apache.spark.graftbridge

import org.apache.spark.util.ShutdownHookManager

/** Test access to Spark's delete-at-exit registry, which is private[spark]. */
object ShutdownDeletes {
  def registered(dir: java.io.File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
