package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The canonical registration route: a session created with
  * `spark.sql.extensions=graft.GraftExtensions` has every custom
  * expression available without touching `ensureRegistered` (which the
  * query registry uses defensively for harness-created sessions). */
class ExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions config registers all graft functions") {
    // spark.sql.extensions is a STATIC conf read when the SparkContext
    // is first created — a context inherited from an earlier suite would
    // silently ignore it. Suites run sequentially in the single forked
    // test JVM, so stop any existing context; the next suite's lazy
    // getOrCreate recreates one.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.builder(4)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      val r = s.sql(
        """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS v,
          |  simhash64('a b c') AS h,
          |  size(minhash_bands('a b c', 3, 12, 4)) AS nb,
          |  size(shingle_hashes('a b c d', 2)) AS ns,
          |  jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j
          |""".stripMargin).collect().head
      assert(r.getDouble(0) == 11.0)
      assert(r.getInt(2) == 4)
      assert(r.getInt(3) == 3)
      assert(r.getDouble(4) == 0.5)
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
