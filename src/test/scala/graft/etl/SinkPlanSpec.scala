package graft.etl

import graft.SparkSuite
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The shuffling single-file FHIR sinks feed one output each, so each
  * takes at most one exchange, never range-partitioned: the A1
  * DocumentReference dedup, and the Group membership of both projects
  * ([[Etl.groupMembers]]). Results are checked against a plain
  * formulation of the same contract. Each project's `runAll` writes all
  * its files with one file-writing execution. */
class SinkPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper
    with SparkSuite {

  private val fixtures = graft.queries.FhirEtl.FixtureDir

  /** Run `df` and assert its executed plan holds at most one shuffle
    * exchange and no range-partitioned one. */
  private def assertOneExchange(name: String, df: DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 1, s"$name: ${exchanges.size} exchanges:\n$plan")
    assert(!exchanges.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      s"$name: range-partitioned exchange:\n$plan")
  }

  private def members(g: DataFrame): Seq[String] =
    g.select(explode(col("member.entity.reference"))).collect()
      .map(_.getString(0)).toSeq

  test("A1 dedup: one exchange; the last row per id wins, in listing order") {
    val dir = Files.createTempDirectory("a1-dedup")
    val listing = Seq(
      ("ALL.chr1.vcf.gz", 10L, "2014-01-01T00:00:01"),
      ("ALL.chr2.vcf.gz", 20L, "2014-01-01T00:00:02"),
      ("notes.txt", 30L, "2014-01-01T00:00:03"),
      ("ALL.chr1.vcf.gz", 11L, "2014-01-01T00:00:04"),
      ("ALL.chr3.VCF.gz", 40L, "2014-01-01T00:00:05"),
      ("ALL.chr2.vcf.gz", 21L, "2014-01-01T00:00:06"),
      ("ALL.chr4.vcf.gz.tbi", 50L, "2014-01-01T00:00:07"))
    Files.write(dir.resolve("listing.tsv"),
      ("file\tsize\tlast_modified\n" + listing.map { case (f, s, t) =>
        s"$f\t$s\t$t" }.mkString("", "\n", "\n")).getBytes)
    val docs = OneKg.documentReferences(
      OneKg.readFtpListing(spark, dir.resolve("listing.tsv").toString))
    assertOneExchange("documentReferences", docs)
    // each file's last listing row is kept, in the order of those rows
    val vcf = listing.filter(_._1.toLowerCase.contains("vcf"))
    val want = vcf.zipWithIndex.groupBy(_._1._1).values.map(_.last).toSeq
      .sortBy(_._2).map { case ((f, size, _), _) => f -> size }
    val got = docs.select(col("identifier")(0)("value"),
      col("content")(0)("attachment")("size")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == want)
  }

  test("1KG Group: one exchange; members = header ids ∩ specimen ids") {
    val dir = Files.createTempDirectory("onekg-group")
    val specimen = Seq("HG00096", "HG00097", "HG00097", "NA00001")
      .map(id => s"""{"identifier":[{"system":"${OneKg.TechSystem}","value":"$id"},""" +
        s"""{"system":"other","value":"HG00099"}]}""") :+ "not json"
    Files.write(dir.resolve("Specimen.ndjson"), specimen.mkString("\n").getBytes)
    val header = OneKg.readHeaderSampleIds(spark, s"$fixtures/onekg_vcf_header.txt")
    val ids = OneKg.specimenSampleIds(spark, dir.resolve("Specimen.ndjson").toString)
    val g = OneKg.group(spark, header, ids)
    assertOneExchange("OneKg.group", g)
    val want = header.intersect(ids).collect().map(_.getString(0)).toSeq
      .map(id => s"Specimen/${OneKg.minter.mintIdentifier("Specimen",
        OneKg.MintSystem, id)}").sorted
    assert(want.size == 2)
    assert(members(g) == want)
  }

  test("GTEx Group: one exchange; members = stripped SAMPID ∩ aliquot ids") {
    val attrs = Gtex.readTsv(spark, s"$fixtures/gtex_sample_attrs.tsv")
    val samples = Gtex.readTsv(spark, s"$fixtures/gtex_samples.tsv")
    val g = Gtex.group(attrs, samples)
    assertOneExchange("Gtex.group", g)
    val want = Seq("SM-0001", "SM-0002", "SM-0003")
      .map(id => s"Specimen/${Gtex.minter.mintIdentifier("Specimen",
        Gtex.MetaSystem, id)}").sorted
    assert(members(g) == want)
  }

  test("Group membership: no shared id gives one row with no members") {
    import spark.implicits._
    val g = Etl.groupMembers(Seq("a", "b").toDF("sample_id"),
      Seq("c", null).toDF("sample_id"))(identity)
    assert(g.collect().map(_.getSeq[Any](0)).toSeq == Seq(Seq.empty))
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(p => p.getFileName.toString ->
      Files.readAllBytes(p).toSeq).toMap finally s.close()
  }

  private val runAlls = Seq[(String, (SparkSession, String, String) => Unit)](
    "1kgenomes" -> OneKg.runAll, "gtex" -> Gtex.runAll)

  test("runAll: one file-writing execution per project, six files") {
    for ((project, runAll) <- runAlls) {
      val dir = Files.createTempDirectory(s"runall-$project")
      val plans = graft.SparkEvents.writePlans(spark)(runAll(spark, fixtures, dir.toString))
      assert(plans.size == 1, s"$project: ${plans.size} file writes")
      assert(files(dir).keySet == Set("Patient", "ResearchSubject", "Specimen",
        "ResearchStudy", "DocumentReference", "Group").map(_ + ".ndjson"), project)
    }
  }

  test("1KG runAll: Group members from sample info = members from the written Specimen.ndjson") {
    val dir = Files.createTempDirectory("runall-group")
    OneKg.runAll(spark, fixtures, dir.toString)
    val readBack = OneKg.group(spark,
      OneKg.readHeaderSampleIds(spark, s"$fixtures/onekg_vcf_header.txt"),
      OneKg.specimenSampleIds(spark, dir.resolve("Specimen.ndjson").toString))
    val written = spark.read.json(dir.resolve("Group.ndjson").toString)
    assert(members(written).nonEmpty)
    assert(members(written) == members(readBack))
  }

  test("transform twice into one directory gives the bytes of one run") {
    for ((project, _) <- runAlls) {
      val once = Files.createTempDirectory(s"once-$project")
      val twice = Files.createTempDirectory(s"twice-$project")
      def transform(out: Path): Unit = assert(graft.Main.run(spark, Array("transform",
        "-p", project, "--fixtures", fixtures, "--out", out.toString)) == 0)
      transform(once)
      transform(twice)
      transform(twice)
      assert(files(once).size == 6)
      assert(files(twice) == files(once), project)
    }
  }
}
