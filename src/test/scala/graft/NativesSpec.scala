package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Natives

/** One registration path for the native functions: the extension fills
  * every session's registry, a persist's cloned session registers
  * nothing again, and `Natives.ensure` fills only what a session
  * without the extension lacks. */
class NativesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every WARN-or-worse event logged while `body` runs. */
  private def logged(body: => Unit): Seq[LogEvent] = {
    val events = new ConcurrentLinkedQueue[LogEvent]()
    val appender = new AbstractAppender("natives-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    events.asScala.toSeq
  }

  test("a fresh session has all 20 natives without any ensure call") {
    val names = Natives.all.map(_._1)
    assert(names.size == 20 && names.distinct.size == 20)
    val s = spark.newSession()
    assert(names.filterNot(s.catalog.functionExists) == Nil)
  }

  test("persisting inside graph_triangles registers no function again") {
    val replaced = logged {
      Harness.runNoop(SparkEntry.queries("graph_triangles")(spark, TestSpark.sfDir))
    }.map(_.getMessage.getFormattedMessage)
      .filter(_.contains("replaced a previously registered function"))
    Harness.dropAllBlocks(spark)
    assert(replaced.isEmpty, s"${replaced.size} re-registrations, first: ${replaced.headOption}")
  }

  test("ensure fills a missing native once and then logs nothing") {
    val s = spark.newSession()
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    assert(!s.catalog.functionExists("graft_dot"))
    Natives.ensure(s)
    assert(s.sql("SELECT graft_dot(array(1d), array(2d))").head().getDouble(0) == 2.0)
    val caller = Thread.currentThread.getName
    assert(logged(Natives.ensure(s)).filter(_.getThreadName == caller).isEmpty)
  }
}
