package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import scala.collection.mutable.ArrayBuffer

/** The SparkSessionExtensions entry point: functions injected at session
  * build time must resolve from plain SQL with no manual registration call
  * (TestSpark builds with `.withExtensions(new GraftExtensions())`).
  */
class ExtensionsSpec extends SparkSpec {

  test("extension-installed functions are SQL-visible without registration") {
    val c = spark.sql(
      "SELECT graft_cosine(array(float(3.0), float(4.0)), " +
        "array(float(3.0), float(4.0))) AS c").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)

    // components h/2^31 - 1: 2147483648 -> 0.0, 0 -> -1.0; dot = 0.0
    val d = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0), float(0.0)), " +
        "array(bigint(2147483648), bigint(0))) AS d").head().getDouble(0)
    assert(d == 0.0)

    val fps = spark.sql(
      "SELECT size(graft_winnow('abcdefghijklmnopqrstuvwxyz')) AS n")
      .head().getInt(0)
    assert(fps > 0)
  }

  test("null planes and null elements propagate null, never NPE or garbage") {
    // foldable NULL plane literal: type-checks (array<bigint>), folds to null
    // components — constant-null result, not an NPE at codegen time
    val nullPlane = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0)), CAST(NULL AS ARRAY<BIGINT>)) AS d")
      .head()
    assert(nullPlane.isNullAt(0))
    // plane literal with a null element
    val nullElemPlane = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0), float(2.0)), " +
        "array(bigint(1), CAST(NULL AS BIGINT))) AS d").head()
    assert(nullElemPlane.isNullAt(0))
    // embedding with a null element: null result (zip_with propagation), not
    // a silent 0.0 read from the primitive accessor
    val nullElemEmb = spark.sql(
      "SELECT graft_plane_dot(array(float(1.0), CAST(NULL AS FLOAT)), " +
        "array(bigint(2147483648), bigint(2147483648))) AS d").head()
    assert(nullElemEmb.isNullAt(0))
    val nullElemCos = spark.sql(
      "SELECT graft_cosine(array(float(1.0), CAST(NULL AS FLOAT)), " +
        "array(float(1.0), float(2.0))) AS c").head()
    assert(nullElemCos.isNullAt(0))
  }

  test("bad SQL input fails at analysis with a named error, not a CCE") {
    val wrongType = intercept[Exception] {
      spark.sql("SELECT graft_winnow(123)").collect()
    }
    assert(wrongType.getMessage.contains("graft_winnow"), wrongType.getMessage)
    val wrongArity = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(float(1.0)))").collect()
    }
    assert(wrongArity.getMessage.contains("graft_cosine"), wrongArity.getMessage)
    val wrongCos = intercept[Exception] {
      spark.sql("SELECT graft_cosine(1, 2)").collect()
    }
    assert(wrongCos.getMessage.contains("graft_cosine"), wrongCos.getMessage)
    val unfoldablePlane = intercept[Exception] {
      spark.sql("SELECT graft_plane_dot(array(float(1.0)), array(id)) " +
        "FROM range(1)").collect()
    }
    assert(unfoldablePlane.getMessage.contains("graft_plane_dot"),
      unfoldablePlane.getMessage)
  }

  /** Messages the named logger emits at WARN or above while `body` runs. */
  private def warningsOf(loggerName: String)(body: => Unit): Seq[String] = {
    val seen = ArrayBuffer.empty[String]
    val appender = new AbstractAppender("capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.synchronized(seen += e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(loggerName, Level.WARN)
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      Configurator.setLevel(loggerName, level)
      appender.stop()
    }
    seen.synchronized(seen.toSeq)
  }

  test("registerAll is idempotent: a repeat call replaces no function") {
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val cosine = FunctionIdentifier("graft_cosine")
    val replaced = "replaced a previously registered function"
    val (_, _, builder) = GraftExtensions.functions.find(_._1 == cosine).get
    // positive control: the capture does see a real replacement
    val control = warningsOf(registry.getClass.getName) {
      registry.createOrReplaceTempFunction("graft_cosine", builder, "built-in")
    }
    assert(control.exists(_.contains(replaced)), control)
    registry.dropFunction(cosine)
    GraftExtensions.registerAll(session) // restores the missing name
    assert(registry.functionExists(cosine))
    val second = warningsOf(registry.getClass.getName) {
      GraftExtensions.registerAll(session)
    }
    assert(!second.exists(_.contains(replaced)), second)
    assert(session.sql("SELECT graft_cosine(array(float(1.0)), " +
      "array(float(2.0)))").head().getDouble(0) == 1.0)
  }
}
