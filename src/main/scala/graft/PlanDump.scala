package graft

import java.nio.file.{Files, Paths}

/** Per-query formatted-plan dumper for the optimization rounds: writes
  * `<outDir>/<query>_<tag>.txt` with the `explain("formatted")` of each
  * named query as its PLANS.md section ([[PlanAudit.section]]: plus the
  * plans materialized during construction, so checkpoint-terminated
  * queries show their real work). Unlike PlanAudit (fixed headline
  * list, local[4]), this runs at the bench's own parallelism
  * (`SPARK_GRAFT_CPUS`, default 4) so the captured shape is the one
  * the bench times:
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
      val (section, _) = PlanAudit.section(spark, name,
        () => SparkEntry.queries(name)(spark, sfDir))
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
        s"# $name @ $sfDir (local[$cpus], shuffle=$cpus) — $tag\n$section")
      println(s"wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
