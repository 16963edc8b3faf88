package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions registration route must resolve every graft
  * function WITHOUT a GraftFunctions.register call and bind the same
  * expressions (so plans are identical either way).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** A NEW session on the shared context. Extensions apply when a
    * session is created, so clear the active/default slots (getOrCreate
    * would otherwise return the shared session) and restore them after.
    */
  private def freshSession(build: => SparkSession): SparkSession = {
    val prior = graft.TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh =
      try build
      finally {
        SparkSession.setActiveSession(prior)
        SparkSession.setDefaultSession(prior)
      }
    assert(fresh ne prior)
    fresh
  }

  private def assertResolvesAll(fresh: SparkSession): Unit = {
    val out = fresh.sql(
      """SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       simhash63(array('a', 'b')) AS s,
        |       size(shingles3(array('a', 'b', 'c', 'd'))) AS n,
        |       norm_text(' A  B ') AS t,
        |       size(norm_tokens('x y z')) AS k,
        |       size(minhash_bands16x2(array(1L, 2L, 3L))) AS m
        |""".stripMargin).collect().head
    assert(out.getDouble(0) === 11.0)
    assert(out.getInt(2) === 2)
    assert(out.getString(3) === "a b")
    assert(out.getInt(4) === 3)
    assert(out.getInt(5) === 16)
    // Generators resolve too.
    val pairs = fresh.sql(
      """SELECT pair_expand_cap(ids, 10) FROM
        |  (SELECT array(3L, 1L, 2L) AS ids)""".stripMargin).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("a session built with spark.sql.extensions=GraftExtensions " +
    "resolves all graft functions in plain SQL") {
    // The spark.sql.extensions conf is applied when a FRESH context
    // comes up, which a shared-context test suite cannot do; the
    // builder's withExtensions is the same injection path one hop
    // earlier (getOrCreate folds the conf classes into the same
    // extensions object).
    assertResolvesAll(freshSession(SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.ansi.enabled", "true")
      .getOrCreate()))
  }

  test("a Harness-built session and its newSession() child resolve all " +
    "graft functions with no register call") {
    val fresh = freshSession(graft.Harness.session(2))
    assertResolvesAll(fresh)
    assertResolvesAll(fresh.newSession())
  }
}
