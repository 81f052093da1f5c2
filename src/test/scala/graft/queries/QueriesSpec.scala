package graft.queries

import graft.SparkEntry
import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs at sf0.001 and yields rows with the
  * declared non-empty schema. Value-level correctness is covered by the
  * DuckDB oracle gate (tools/verify_local.py + driver t2); this spec
  * catches empty-result and plan-breakage regressions early.
  */
class QueriesSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("registry names are unique and every oracle key has a query") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.allDefs.foreach { d =>
    test(s"${d.name} runs and is non-empty at sf0.001") {
      val df = d.fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      // the driver's pandas comparator cannot sort/hash array or map
      // cells (r13: q8h's band_e array was the round's only red) —
      // every registered result must be scalar-columned
      import org.apache.spark.sql.types.{ArrayType, MapType}
      val bad = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] => f.name
      }
      assert(bad.isEmpty,
        s"${d.name} emits driver-incomparable array/map columns: " +
          bad.mkString(", "))
      assert(df.count() > 0, s"${d.name} returned no rows")
    }
  }

  test("entry() smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
