package graft.etl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Full-tree golden parity: every resource our 1KG pipeline emits equals
  * the reference's committed golden output
  * (`FhirEtl.GoldenDir`) — every nested field,
  * every minted uuid5 id, every frozen string quirk. JSON is compared
  * canonically (sorted keys), since the goldens' key order is pydantic
  * field order and ours is schema order; Group.member is order-
  * normalized because the reference iterates a hash-seeded Python set
  * (order is not part of its contract).
  */
class OneKgGoldenSpec extends AnyFunSuite with SparkSuite {

  private val fixtures = graft.queries.FhirEtl.FixtureDir
  private val golden = graft.queries.FhirEtl.GoldenDir

  private val mapper = new ObjectMapper()
  mapper.configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  private def canon(json: String): String =
    mapper.writeValueAsString(mapper.treeToValue(mapper.readTree(json),
      classOf[Object]))

  private def goldenLines(file: String): Seq[String] =
    scala.io.Source.fromFile(s"$golden/$file").getLines().toSeq
      .filter(_.trim.nonEmpty)

  private def assertParity(ours: DataFrame, goldenFile: String): Unit = {
    val got = ours.toJSON.collect().toSeq.map(canon).sorted
    val want = goldenLines(goldenFile).map(canon).sorted
    assert(got.size == want.size, s"row count ${got.size} != ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"mismatch at sorted row $i:\nours:   $g\ngolden: $w")
    }
  }

  private lazy val sampleInfo =
    OneKg.readSampleInfo(spark, s"$fixtures/onekg_sample_info.tsv")

  test("Patient.ndjson: 3,500 records byte-equivalent (canonical JSON)") {
    Goldens.assumePresent(golden)
    assertParity(OneKg.patients(sampleInfo), "Patient.ndjson")
  }

  test("ResearchSubject.ndjson: 3,500 records") {
    Goldens.assumePresent(golden)
    assertParity(OneKg.researchSubjects(sampleInfo), "ResearchSubject.ndjson")
  }

  test("Specimen.ndjson: 3,500 records") {
    Goldens.assumePresent(golden)
    assertParity(OneKg.specimens(sampleInfo), "Specimen.ndjson")
  }

  test("ResearchStudy.ndjson: singleton") {
    Goldens.assumePresent(golden)
    assertParity(OneKg.researchStudy(spark), "ResearchStudy.ndjson")
  }

  test("DocumentReference.ndjson: 48 records incl. int64 sizes") {
    Goldens.assumePresent(golden)
    assertParity(
      OneKg.documentReferences(
        OneKg.readFtpListing(spark, s"$fixtures/onekg_ftp_listing.tsv")),
      "DocumentReference.ndjson")
  }

  test("Group.ndjson: 2,504 members, set-equal, id + all fields equal") {
    Goldens.assumePresent(golden)
    val ours = OneKg.group(spark,
      OneKg.readHeaderSampleIds(spark, s"$fixtures/onekg_vcf_header.txt"),
      OneKg.specimenSampleIds(spark, s"$golden/Specimen.ndjson"))
    val got = mapper.readTree(ours.toJSON.collect().head)
    val want = mapper.readTree(goldenLines("Group.ndjson").head)
    // order-normalize member (reference order = Python set iteration)
    def sortMembers(n: JsonNode): JsonNode = {
      val o = n.asInstanceOf[ObjectNode]
      val sorted = o.get("member").elements().asScala.toSeq
        .sortBy(_.get("entity").get("reference").asText())
      val arr = mapper.createArrayNode()
      sorted.foreach(arr.add)
      o.set("member", arr)
      o
    }
    assert(canon(sortMembers(got).toString) == canon(sortMembers(want).toString))
  }

  test("reconciliation: 2,507 header ids = 2,504 found + 3 missing") {
    Goldens.assumePresent(golden)
    val row = OneKg.reconciliation(
      OneKg.readHeaderSampleIds(spark, s"$fixtures/onekg_vcf_header.txt"),
      OneKg.specimenSampleIds(spark, s"$golden/Specimen.ndjson"))
      .collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((2507L, 2504L, 3L)))
  }
}
