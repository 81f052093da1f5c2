package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime bloom-filter join pruning — the third shuffle-reduction
  * lever after layout (bucketing) and AQE skew handling: when one join
  * side carries a selective predicate, Catalyst's InjectRuntimeFilter
  * builds a bloom filter from that side at runtime and pushes a
  * `bloom_filter_might_contain` probe onto the OTHER side's scan, so
  * most non-matching fact rows die before the shuffle. At 100 TB this
  * is the difference between shuffling the whole fact table and
  * shuffling the ~matching fraction. Proven from the executed plan and
  * gated on the answer being identical with the filter disabled. */
class RuntimeFilterSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def joined() = {
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val part = spark.read.parquet(s"$sfDir/part.parquet")
      .filter(col("p_size") === 1) // the selective creation side
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_size"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2)
        .as("rev"))
  }

  test("selective dim side injects a bloom probe on the fact scan") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // the app-side size gate exists to skip small scans — zero it so
      // the sf0.001 fixture qualifies like a 100 TB fact table would
      conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".creationSideThreshold", "10MB")
      val df = joined()
      val withFilter = df.collect().map(_.toSeq).toSet
      // physical spelling: a might_contain probe filtering the fact
      // side, fed by a bloom_filter_agg subquery built from the dim
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom probe injected:\n$plan")

      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = joined().collect().map(_.toSeq).toSet
      assert(withFilter == without && withFilter.nonEmpty,
        "bloom-filtered answer differs from the unfiltered answer")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
