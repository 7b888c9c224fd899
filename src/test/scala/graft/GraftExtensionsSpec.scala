package graft

import graft.functions.{DetMath, GraftExpressions}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  private val tableNames = GraftExpressions.Functions.map(_._1.funcName).toSet

  private def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  /** A genuinely new session from `builder`. getOrCreate returns the active
    * session (ignoring extensions), so drop the active/default references
    * first and restore the shared test session after.
    */
  private def withNewSession[T](builder: SparkSession.Builder)(f: SparkSession => T): T = {
    val shared = TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(builder.getOrCreate())
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("extension-built and register-built sessions expose the same graft_* functions") {
    assert(tableNames.size == GraftExpressions.Functions.size)
    withNewSession(GraftSession.builder(2)) { s =>
      assert(graftNames(s) == tableNames)
    }
    withNewSession(SparkSession.builder()) { vanilla =>
      assert(graftNames(vanilla).isEmpty)
      GraftExpressions.register(vanilla)
      assert(graftNames(vanilla) == tableNames)
    }
  }

  test("register is idempotent: a second call replaces no function") {
    withNewSession(SparkSession.builder()) { vanilla =>
      val reg = vanilla.sessionState.functionRegistry
      def entries = GraftExpressions.Functions.map { case (id, _, _) =>
        (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
      }
      GraftExpressions.register(vanilla)
      val first = entries
      GraftExpressions.register(vanilla)
      first.zip(entries).foreach { case ((info0, b0), (info1, b1)) =>
        assert((info0 eq info1) && (b0 eq b1), s"${info0.getName} was replaced")
      }
    }
  }

  test("withExtensions sessions get graft_* functions in plain SQL") {
    val cases: Seq[(String, Any)] = Seq(
      "SELECT graft_polyhash('abc')" ->
        ((('a'.toLong * 31 + 'b') % 1000000007L) * 31 + 'c') % 1000000007L,
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))" -> 11.0,
      "SELECT graft_doti(array(1L, 2L, 3L), array(4L, 5L, 6L))" -> 32L,
      "SELECT graft_sqdisti(array(1L, 2L), array(4L, 6L))" -> 25L,
      "SELECT graft_detln(2L, 1L)" -> DetMath.lnRat(2L, 1L),
      "SELECT graft_might_contain((SELECT graft_bloom_agg(id, 100L, 1024L) " +
        "FROM range(10)), 7L)" -> true)
    withNewSession(SparkSession.builder().withExtensions(new GraftExtensions)) { s =>
      cases.foreach { case (sql, expected) =>
        assert(s.sql(sql).collect()(0).get(0) == expected, sql)
      }
    }
  }
}
