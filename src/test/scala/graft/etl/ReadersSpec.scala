package graft.etl

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The FHIR input readers know their schema before they read: the TSV
  * readers take it from the header line on the driver, the fileList
  * reader declares it. Each gives the schema inference would, and
  * building one starts no Spark job. */
class ReadersSpec extends AnyFunSuite with SparkSuite {

  private val fixtures = graft.queries.FhirEtl.FixtureDir

  private def tsvFixtures: Seq[Path] = {
    val s = Files.list(Paths.get(fixtures))
    try s.iterator.asScala.filter(_.toString.endsWith(".tsv")).toList.sorted
    finally s.close()
  }

  private def inferredTsv(path: String) =
    spark.read.option("sep", "\t").option("header", "true").csv(path)

  test("readTsv: the schema header inference gives, for every fixture TSV") {
    assert(tsvFixtures.size == 7)
    for (p <- tsvFixtures)
      assert(Etl.readTsv(spark, p.toString).schema == inferredTsv(p.toString).schema, p)
    val p = s"$fixtures/gtex_samples.tsv"
    assert(Etl.readTsv(spark, p).collect().toSeq == inferredTsv(p).collect().toSeq)
  }

  test("readTsv: an empty or duplicate header name fails naming the file") {
    val dir = Files.createTempDirectory("readers")
    for ((name, body) <- Seq(
        "empty_name.tsv" -> "a\t\tb\n1\t2\t3\n",
        "duplicate.tsv" -> "id\tv\tID\n1\t2\t3\n",
        "quoted.tsv" -> "\"a\"\tb\n1\t2\n",
        "no_header.tsv" -> "")) {
      val p = dir.resolve(name)
      Files.write(p, body.getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException](Etl.readTsv(spark, p.toString))
      assert(e.getMessage.contains(p.toString), e.getMessage)
    }
  }

  test("readFileList: the declared schema is the one inference gives") {
    val inferred = spark.read.option("multiLine", "true")
      .json(s"$fixtures/gtex_filelist.json").schema
    assert(Gtex.FileListSchema == inferred)
  }

  test("building the readers starts no Spark job") {
    val tsv = s"$fixtures/gtex_samples.tsv"
    // the counter sees the job header inference runs
    assert(graft.SparkEvents.jobsDuring(spark)(inferredTsv(tsv)) > 0)
    val jobs = graft.SparkEvents.jobsDuring(spark) {
      tsvFixtures.foreach(p => Etl.readTsv(spark, p.toString))
      OneKg.readSampleInfo(spark, s"$fixtures/onekg_sample_info.tsv")
      Gtex.readTsv(spark, tsv)
      Gtex.readFileList(spark, s"$fixtures/gtex_filelist.json")
    }
    assert(jobs == 0)
  }
}
