package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch-based approximate aggregates (SURVEY §2.7: HLL over exact
  * where the contract allows). No cross-engine oracle exists — Spark's
  * HLL++ and DuckDB's approx differ by construction — so the gate is an
  * error bound against the exact answer. */
class ApproxSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5% of exact on lineitem keys") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact_p"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_p"),
      countDistinct(col("l_orderkey")).as("exact_o"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_o"))
      .collect().head
    def relErr(exact: Long, approx: Long) =
      math.abs(approx - exact).toDouble / exact
    assert(relErr(row.getLong(0), row.getLong(1)) < 0.05)
    assert(relErr(row.getLong(2), row.getLong(3)) < 0.05)
  }

  test("approx percentiles bracket the exact median") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val Array(lo, approxMed, hi) = li
      .select(percentile_approx(col("l_extendedprice"),
        array(lit(0.4), lit(0.5), lit(0.6)), lit(1000)).as("p"))
      .collect().head.getSeq[Double](0).toArray
    val exactMed = li.stat.approxQuantile("l_extendedprice", Array(0.5), 0.0).head
    assert(lo <= exactMed && exactMed <= hi)
    assert(math.abs(approxMed - exactMed) / exactMed < 0.02)
  }
}
