package graft.perfbench

import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.{Level, LogManager}

import java.util.concurrent.atomic.AtomicLong

/** Counts the distributed label-propagation rounds of
  * `Dedup.connectedComponents` from the engine's own per-round INFO log line
  * ("connectedComponents: round ..."); a graph small enough for the
  * engine's driver-side union-find runs zero rounds. The tap keeps the
  * logger's INFO lines off the console: only WARN and above reach the root
  * appenders.
  */
object RoundsTap {
  private val count = new AtomicLong
  private val loggerName = "graft.ops.Dedup$"

  def rounds: Long = count.get()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val tap = new AbstractAppender("perfbench-cc-rounds", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.startsWith("connectedComponents: round"))
          count.incrementAndGet()
    }
    tap.start()
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(tap, Level.INFO, null)
    config.getRootLogger.getAppenders.values().forEach(a => lc.addAppender(a, Level.WARN, null))
    config.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }
}
