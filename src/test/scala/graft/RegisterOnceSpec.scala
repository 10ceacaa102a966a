package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{Native, TableFns}

/** `Native.register` and `TableFns.register` bind each name once per
  * session: a repeated call leaves the registries as they are and logs
  * no "replaced a previously registered function" warning. */
class RegisterOnceSpec extends SparkSpec {

  private val Replaced = "replaced a previously registered function"

  /** Messages logged while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("register-once", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  /** Each registered name's ExpressionInfo, scalar then table functions. */
  private def bound(s: SparkSession) =
    Native.fns.map { case (n, _) =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(n)).get
    } ++ TableFns.fns.map { case (n, _) =>
      s.sessionState.tableFunctionRegistry.lookupFunction(FunctionIdentifier(n)).get
    }

  test("a second register call changes no registry entry and logs no " +
    "replacement warning") {
    val s = spark.newSession()
    Native.register(s)
    TableFns.register(s)
    val before = bound(s)
    val lines = logged { Native.register(s); TableFns.register(s) }
    assert(!lines.exists(_.contains(Replaced)), lines.filter(_.contains(Replaced)))
    bound(s).zip(before).foreach { case (a, b) => assert(a eq b, a.getName) }
    assert(s.sql("SELECT graft_token_hashes(array('a'))").collect().length === 1)
  }

  test("control: replacing a bound name does log the warning the spec looks for") {
    val s = spark.newSession()
    Native.register(s)
    val (name, builder) = Native.fns.head
    val lines = logged {
      s.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder,
        "scala_udf")
    }
    assert(lines.exists(_.contains(Replaced)), lines)
  }
}
