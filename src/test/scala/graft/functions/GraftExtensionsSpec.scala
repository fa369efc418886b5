package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path must hand SQL users the native functions with no
  * runtime registration (spark.sql.extensions-compatible). Builds its own
  * session with the extensions injected — that is the thing under test. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions exposes graft functions to pure SQL") {
    // Force a NEW session (fresh sessionState — no runtime-registered temp
    // functions leaking in from other suites): getOrCreate would otherwise
    // return the shared session and make this test vacuous.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = graft.GraftSession(cpus = 2, extensions = true)
    try {
      val sim = spark.sql(
        """SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                        array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))"""
          .stripMargin).head.getDouble(0)
      assert(math.abs(sim - 1.0) < 1e-12)
      val h1 = spark.sql("SELECT graft_rolling_hash('abc')").head.getLong(0)
      val h2 = spark.sql("SELECT graft_rolling_hash('abd')").head.getLong(0)
      assert(h1 != h2)
    } finally {
      // Restore the shared test session for other suites.
      SparkSession.clearActiveSession()
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
