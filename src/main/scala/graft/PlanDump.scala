package graft

import java.nio.file.{Files, Paths}

/** Per-query formatted-plan dumper for the optimization rounds: writes
  * `<outDir>/<query>_<tag>.txt` with the `explain("formatted")` of each
  * named query (plus any plans materialized during construction — the
  * PlanAudit capture, so checkpoint-terminated queries show their real
  * work). Unlike PlanAudit (fixed headline list, local[4]), this runs at
  * the bench's own parallelism (`SPARK_GRAFT_CPUS`, default 4) so the
  * captured shape is the one the bench times:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.PlanDump \
  *     /root/testdata/sf0.1 plans/r20 before q5b_ann_recall qb8_kmv_overlap"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val cpus = Session.cpus
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val (df, captured) = PlanAudit.buildCapturing(spark,
        () => fn(spark, sfDir))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val sb = new StringBuilder
      sb.append(s"# $name @ $sfDir (local[$cpus], shuffle=$cpus) — $tag\n\n")
      sb.append(plan)
      val real = captured.filterNot(PlanAudit.isBareRddScan)
      if (PlanAudit.isBareRddScan(plan) && real.nonEmpty) {
        real.takeRight(4).foreach { p =>
          sb.append(s"\n\n## materialized during construction\n\n")
          sb.append(p)
        }
      }
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), sb.toString)
      println(s"wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
