package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` path and the programmatic path install the
  * same functions: a session built with [[graft.functions.GraftExtensions]]
  * resolves every name [[graft.functions.GraftFunctions.register]] adds. */
class GraftExtensionsSpec extends AnyFunSuite {

  private def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  test("GraftExtensions resolves every function GraftFunctions.register installs") {
    val base = TestSpark.spark // ensure the context exists first
    val plain = base.newSession()
    assert(graftNames(plain).isEmpty)
    graft.functions.GraftFunctions.register(plain)
    val installed = graftNames(plain)
    assert(installed.nonEmpty)

    // a second session on the same SparkContext, built WITH the extensions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    finally {
      // restore the shared session so other suites are unaffected
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
    val registry = ext.sessionState.functionRegistry
    val missing = installed.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"extension path lacks: ${missing.toSeq.sorted.mkString(", ")}")
    installed.foreach { n =>
      val info = registry.lookupFunction(FunctionIdentifier(n)).get
      Class.forName(info.getClassName) // the recorded expression class exists
    }
  }
}
