package org.apache.spark.sql.graft

import java.nio.file.{Files, Path}
import org.apache.spark.util.ShutdownHookManager

/** Scratch directories that outlive one call but not the JVM. Spark's
  * `ShutdownHookManager` is private[spark]; its delete-on-exit registry
  * removes every registered directory recursively from one shutdown hook
  * that runs after the SparkContext has stopped, so no stream or job still
  * writes into a directory while it is deleted. */
object ScratchDir {
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    ShutdownHookManager.registerShutdownDeleteDir(dir.toFile)
    dir
  }
}
