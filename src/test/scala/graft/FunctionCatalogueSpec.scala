package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import graft.plans.AsOfJoinStrategy

/** The function catalogue ([[GraftExtensions.functions]]) is the one
  * place native SQL functions are declared, and [[Sessions.init]] is an
  * idempotent guard over it.
  */
class FunctionCatalogueSpec extends SparkSuite {

  private val names = GraftExtensions.functions.map(_._1)

  private def exists(s: SparkSession, name: String) =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  private def asOfCount(s: SparkSession) =
    s.sessionState.planner.strategies.count(_ == AsOfJoinStrategy)

  /** Messages of the "replaced a previously registered function" warnings
    * the function registry logs while `body` runs.
    */
  private def replacedWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("function-catalogue-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered function")) seen.add(msg)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("the catalogue declares 28 native functions, each name once") {
    assert(names.size === 28)
    assert(names.distinct.size === names.size)
  }

  test("every catalogue function resolves through spark.sql") {
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("DESCRIBE FUNCTION graft_no_such_function").collect())
    names.foreach { n =>
      val described = spark.sql(s"DESCRIBE FUNCTION $n").collect().map(_.getString(0))
      assert(described.head === s"Function: $n")
    }
  }

  test("a second Sessions.init replaces nothing") {
    val registry = spark.sessionState.functionRegistry
    def builders = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    val before = builders
    assert(before.forall(_.isDefined))
    val replaced = replacedWarnings { Sessions.init(spark); Sessions.init(spark) }
    assert(replaced.isEmpty, replaced.mkString("\n"))
    builders.zip(before).zip(names).foreach { case ((after, was), n) =>
      assert(after.get eq was.get, s"$n was re-registered")
    }
    assert(asOfCount(spark) === 1)

    // Control: a real replacement is seen.
    val other = spark.newSession()
    val control = replacedWarnings(other.sessionState.functionRegistry
      .createOrReplaceTempFunction("hms_to_deg", before.head.get, "built-in"))
    assert(control.nonEmpty)
  }

  test("one Sessions.init restores every catalogue function dropped from a new session") {
    val s = spark.newSession()
    names.foreach { n =>
      assert(s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)), n)
    }
    assert(names.forall(n => !exists(s, n)))
    assert(names.forall(n => exists(spark, n)), "dropping in a new session leaked")
    val replaced = replacedWarnings(Sessions.init(s))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    assert(names.filterNot(exists(s, _)).isEmpty)
    val r = s.sql("SELECT hms_to_deg('4:40:17.07') AS ra, vec_dot(array(1d, 2d), array(3d, 4d)) AS d")
      .head()
    assert(r.getDouble(0) === 70.07113)
    assert(r.getDouble(1) === 11.0)
  }

  test("Sessions.init keeps a session's own planner strategies and plans the as-of strategy once") {
    object Dummy extends SparkStrategy {
      override def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
    }
    val s = spark.newSession()
    s.experimental.extraStrategies = Seq(Dummy)
    Sessions.init(s)
    Sessions.init(s)
    assert(s.experimental.extraStrategies === Seq(Dummy))
    assert(s.sessionState.planner.strategies.contains(Dummy))
    assert(asOfCount(s) === 1)
  }

  test("on a session built without the extension, Sessions.init adds every function and the strategy once") {
    // A new session on the running SparkContext, without GraftExtensions.
    val foreign = org.apache.spark.sql.classic.SparkSession.builder().create()
    try {
      assert(names.forall(n => !exists(foreign, n)))
      assert(asOfCount(foreign) === 0)
      Sessions.init(foreign)
      Sessions.init(foreign)
      assert(names.forall(exists(foreign, _)))
      assert(asOfCount(foreign) === 1)
      assert(foreign.sql("SELECT dms_to_deg('-43:33:09.0')").head().getDouble(0) === -43.5525)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("source guard: call_function names are declared and only the catalogue registers") {
    val root = MainSources.root
    val files = MainSources.files
    assert(files.size > 100, s"scanned ${files.size} files under $root")

    // A Column API whose name is missing would otherwise fail only at
    // analysis time, in whichever query first uses it. Spark's own
    // built-ins (e.g. `repeat`) are called by name too.
    val declared = names.toSet
    val call = """call_function\(\s*"([^"]+)"""".r
    val undeclared = for {
      f <- files
      m <- call.findAllMatchIn(MainSources.read(f))
      n = m.group(1)
      if !declared(n) && !FunctionRegistry.builtin.functionExists(FunctionIdentifier(n))
    } yield s"$f: $n"
    assert(undeclared.isEmpty, undeclared.mkString("\n"))

    val home = root.resolve("graft/GraftExtensions.scala")
    val registers = "createOrReplaceTempFunction|injectFunction|registerFunction".r
    val outside = MainSources.matchesOutside(registers)(_ == home)
    assert(outside.isEmpty, outside.mkString("\n"))
  }
}
