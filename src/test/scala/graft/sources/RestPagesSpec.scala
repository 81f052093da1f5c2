package graft.sources

import graft.SparkSuite
import graft.etl.Gtex
import org.scalatest.funsuite.AnyFunSuite

/** S3 DataSourceV2: parallel page-partitioned scan delivers every
  * record of every page exactly once, and the downstream transform is
  * source-agnostic (page source ≡ TSV source). */
class RestPagesSpec extends AnyFunSuite with SparkSuite {

  private val pages = s"${graft.queries.FhirEtl.FixtureDir}/gtex_subject_pages"

  test("one input partition per page, 980 records total") {
    val df = spark.read.format("graft.sources.RestPagesSource")
      .option("path", pages).load()
    assert(df.rdd.getNumPartitions == 10)
    assert(df.count() == 980)
    import spark.implicits._
    val perPage = df.groupBy($"page").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perPage.size == 10 && perPage.values.sum == 980)
  }

  test("patients via page source ≡ patients via TSV source") {
    val fromPages = Gtex.patients(Gtex.readSubjectPages(spark, pages))
      .toJSON.collect().sorted
    val fromTsv = Gtex.patients(
      Gtex.readTsv(spark, s"${graft.queries.FhirEtl.FixtureDir}/gtex_subjects.tsv"))
      .toJSON.collect().sorted
    assert(fromPages.toSeq == fromTsv.toSeq)
  }
}
