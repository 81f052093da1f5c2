package graft

/** r21 diagnostic: enumerate every registry query whose ANALYZED plan
  * (or any plan materialized during construction) contains a Window
  * operator with an empty partition spec — the sources of the
  * entry-run "No Partition Defined" warnings. Reporting only. */
object WindowScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val (df, captured) = PlanAudit.buildCapturingExecutions(spark,
          () => fn(spark, sfDir))
        def bare(qe: org.apache.spark.sql.execution.QueryExecution): Int =
          qe.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }.size
        val inResult = bare(df.queryExecution)
        val inCaptured = captured.count(bare(_) > 0)
        if (inResult > 0 || inCaptured > 0)
          println(s"[windowscan] $name result=$inResult captured=$inCaptured")
      } catch {
        case e: Throwable =>
          println(s"[windowscan] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    println("[windowscan] done")
    spark.stop()
  }
}
