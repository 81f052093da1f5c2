package graft.etl

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** GTEx golden parity. Patient / ResearchSubject / DocumentReference /
  * ResearchStudy are full-tree-compared against
  * `FhirEtl.GtexGoldenDir`. Specimen.ndjson is elided
  * upstream (.MISSING_LARGE_BLOBS), so Specimen and Group membership
  * run on the synthetic fixtures: their minting chain and shapes are
  * pinned here, and the Group's constant-derived fields (id,
  * identifier, type, membership, extension) still golden-match. */
class GtexGoldenSpec extends AnyFunSuite with SparkSuite {

  private val fixtures = graft.queries.FhirEtl.FixtureDir
  private val golden = graft.queries.FhirEtl.GtexGoldenDir

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

  private lazy val subjects =
    Gtex.readTsv(spark, s"$fixtures/gtex_subjects.tsv")

  test("Patient.ndjson: 980 records incl. deceasedBoolean + age/dueto exts") {
    Goldens.assumePresent(golden)
    assertParity(Gtex.patients(subjects), "Patient.ndjson")
  }

  test("ResearchSubject.ndjson: 980 records") {
    Goldens.assumePresent(golden)
    assertParity(Gtex.researchSubjects(subjects), "ResearchSubject.ndjson")
  }

  test("ResearchStudy.ndjson: singleton") {
    Goldens.assumePresent(golden)
    assertParity(Gtex.researchStudy(spark), "ResearchStudy.ndjson")
  }

  test("DocumentReference.ndjson: 49 records via P14 fileset unnest") {
    Goldens.assumePresent(golden)
    assertParity(
      Gtex.documentReferences(
        Gtex.readFileList(spark, s"$fixtures/gtex_filelist.json")),
      "DocumentReference.ndjson")
  }

  test("Group: constant-derived fields golden-match; membership = J3 ∩") {
    Goldens.assumePresent(golden)
    val g = Gtex.group(
      Gtex.readTsv(spark, s"$fixtures/gtex_sample_attrs.tsv"),
      Gtex.readTsv(spark, s"$fixtures/gtex_samples.tsv"))
    val got = mapper.readTree(g.toJSON.collect().head)
    val want = mapper.readTree(goldenLines("Group.ndjson").head)
    for (f <- Seq("resourceType", "id", "identifier", "type", "membership",
                  "extension"))
      assert(canon(got.get(f).toString) == canon(want.get(f).toString),
        s"field $f differs")
    // synthetic intersection: SM-0001/0002/0003 match, SM-9998/9999 miss
    val members = got.get("member").elements()
    val refs = Iterator.continually(members).takeWhile(_.hasNext)
      .map(_.next().get("entity").get("reference").asText()).toSet
    assert(refs == Set("SM-0001", "SM-0002", "SM-0003").map(s =>
      "Specimen/" + Gtex.minter.mintIdentifier("Specimen", Gtex.MetaSystem, s)))
  }

  test("Specimen: minted ids, null-dataType fallback, optional subject") {
    import org.apache.spark.sql.functions._
    val sp = Gtex.specimens(Gtex.readTsv(spark, s"$fixtures/gtex_samples.tsv"))
    val rows = sp.select(col("id"),
      element_at(col("identifier"), 1)("value").as("aliquot"),
      element_at(col("type")("coding"), 1)("code").as("type_code"),
      col("subject")("reference").as("subject_ref"))
      .collect().map(r => (r.getString(1),
        (r.getString(0), r.getString(2), Option(r.getString(3))))).toMap
    assert(rows("SM-0001")._1 ==
      Gtex.minter.mintIdentifier("Specimen", Gtex.MetaSystem, "SM-0001"))
    assert(rows("SM-0002")._2 == "None") // null dataType fallback
    assert(rows("SM-0004")._3.isEmpty)   // null subjectId → no subject
    assert(rows("SM-0001")._3.contains("Patient/" +
      Gtex.minter.mintIdentifier("Patient", Gtex.MetaSystem, "GTEX-1117F")))
  }
}
