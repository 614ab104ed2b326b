package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Captures what an operator logs, for specs that pin a logged figure. */
object LogCapture {

  /** The WARN-or-worse messages `body` logs on the logger named `logger`.
    * The test session logs at ERROR, so the logger is opened to WARN for the
    * duration of `body` and restored afterwards.
    */
  def warnings(logger: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    // a logger config of its own, so the change survives any logger refresh
    // while `body` runs and goes away with it
    val ctx = LoggerContext.getContext(false)
    val config = ctx.getConfiguration
    val had = Option(config.getLoggers.get(logger))
    val own = had.getOrElse(new LoggerConfig(logger, Level.WARN, true))
    val level = own.getLevel
    if (had.isEmpty) config.addLogger(logger, own) else own.setLevel(Level.WARN)
    own.addAppender(appender, null, null)
    ctx.updateLoggers()
    try body
    finally {
      own.removeAppender(appender.getName)
      if (had.isEmpty) config.removeLogger(logger) else own.setLevel(level)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }
}
