package graft.queries

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Co-located (bucketed) joins — the 100 TB fact⋈fact strategy the
  * brief calls out: pre-bucket both sides on the join key so the join
  * compiles to a zero-Exchange sort-merge join. At cluster scale this
  * is the difference between re-shuffling two multi-TB tables per query
  * and reading co-located buckets. */
class BucketingSpec extends AnyFunSuite with SparkSuite {

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  test("bucketed fact-fact join plans with zero Exchange") {
    val dir = "/root/testdata/sf0.001"
    // the suite shares one session (getOrCreate), so clean both the
    // catalog entries and any orphaned managed-table locations left by
    // a previous JVM (the in-memory catalog forgets them)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val wh = Paths.get(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    try {
      for (t <- Seq("lineitem_b", "orders_b")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        deleteRecursively(wh.resolve(t))
      }
      spark.read.parquet(s"$dir/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      spark.read.parquet(s"$dir/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")

      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"),
        "bucketed join should not shuffle either side:\n" + plan.take(1000))
      val n = joined.count()
      val expected = spark.read.parquet(s"$dir/lineitem.parquet")
        .join(spark.read.parquet(s"$dir/orders.parquet"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      for (t <- Seq("lineitem_b", "orders_b")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        deleteRecursively(wh.resolve(t))
      }
    }
  }
}
