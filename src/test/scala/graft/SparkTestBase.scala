package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark's
  * getOrCreate makes this cheap after the first suite).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cores = 4,
    shufflePartitions = 4)

  /** Temp dir that is deleted when `f` returns — repeated test runs must
    * not accumulate directories in tmpdir.
    */
  def withTempDir[T](prefix: String)(f: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir) finally LocalFs.deleteRecursively(dir)
  }

  /** WARN-or-worse messages logged while `f` runs: on this thread only,
    * or on every thread with `allThreads`. The all-threads mode then
    * runs one one-task job, so whatever `f` posted to the
    * DAGScheduler's event loop (which logs on its own thread, e.g. a
    * job-group cancel) has been handled before the capture ends.
    */
  def warnsDuring(f: => Unit, allThreads: Boolean = false): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val thread = Thread.currentThread.getName
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            (allThreads || e.getThreadName == thread))
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try {
      f
      if (allThreads) spark.sparkContext.parallelize(Seq(1), 1).count()
    } finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }
}
