package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness-under-skew for the salted two-phase top-k
  * (Similarity.topKPerQuery — the REAL helper, not a replica): when one
  * key owns ~95% of all rows, the salted local stage must (a) split the
  * hot key across all salt groups so no single task sorts the whole
  * key, and (b) still produce exactly the unsalted answer. This is the
  * mechanism SCALING.md's "salting for skew" claim rests on.
  */
class SkewSpec extends AnyFunSuite with SparkSuite {
  private val K = Similarity.K

  /** 95%-skewed scored rows in topKPerQuery's input shape: q_id 0 holds
    * 9500 of 10000 candidates; cold keys start at 1 so hot and cold
    * never overlap. */
  private lazy val skewed = {
    import spark.implicits._
    spark.range(10000)
      .select(
        when($"id" < 9500, 0L).otherwise(lit(1L) + $"id" % 49).as("q_id"),
        $"id".as("neighbor_id"),
        (xxhash64($"id") % 1000000).cast("double").as("cosine"))
  }

  test("topKPerQuery equals the unsalted window answer under 95% skew") {
    import spark.implicits._
    val unsalted = skewed
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"cosine".desc, $"neighbor_id".asc)))
      .filter($"rn" <= K).select($"q_id", $"neighbor_id", $"cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val salted = Similarity.topKPerQuery(skewed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(salted == unsalted && salted.nonEmpty)
  }

  test("the hot key fans out across every salt group") {
    import spark.implicits._
    val salts = 32 // TopKSalts — pinned; drift caught by the equality test
    val groups = skewed
      .withColumn("salt", pmod(xxhash64($"neighbor_id"), lit(salts)))
      .filter($"q_id" === 0)
      .groupBy($"salt").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("n"))
    assert(groups.length == salts, "hot key concentrated in few salt groups")
    // largest local group carries a small multiple of the mean, not the
    // whole key — the property that bounds the local sort
    val mean = groups.sum.toDouble / groups.length
    assert(groups.max < mean * 2,
      s"salt distribution badly unbalanced: max=${groups.max}, mean=$mean")
  }

  test("AQE skew-join splits the hot partition and keeps the exact answer") {
    // the OTHER half of the skew story (salting covers aggregations/
    // top-k): for a skewed JOIN, Spark's AQE runtime re-plan is the
    // production mechanism — OptimizeSkewedJoin splits the oversized
    // partition into multiple tasks reading sub-ranges of the map
    // output, joined against a replicated other side. Proven from the
    // final adaptive plan (isSkewJoin on the sort-merge join), not
    // assumed from config, and gated on the result still being exact.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 300k facts, one key owning 5/6 of them; dim covers every key
      val fact = spark.range(300000)
        .select(when($"id" < 250000, 0L).otherwise($"id" % 100).as("k"),
          $"id".as("v"))
      val dim = spark.range(100).select($"id".as("k"), ($"id" * 10).as("w"))
      val joined = fact.join(dim, "k")
      // collect THIS dataframe (not an agg on top): AQE finalizes the
      // adaptive plan per action, so the skew-split evidence lives in
      // the executed plan of the collected query
      val rows = joined.collect()
      // exact answer: every fact row matches exactly one dim row
      assert(rows.length == 300000)
      assert(rows.map(_.getAs[Long]("v")).sum == (0L until 300000L).sum)
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // QueryStageExec nodes report no children (AQE freezes materialized
      // stages), so plain collect() stops at stage boundaries — recurse
      // through each stage's plan explicitly
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case _ => p.children
        }
        p +: kids.flatMap(allNodes)
      }
      val smjs = allNodes(finalPlan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smjs.nonEmpty, s"expected a sort-merge join, got:\n$finalPlan")
      assert(smjs.exists(_.isSkewJoin),
        s"AQE did not mark the join as skew-optimized:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
