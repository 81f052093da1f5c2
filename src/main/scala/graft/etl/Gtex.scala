package graft.etl

import graft.fhir.FhirBuild._
import graft.functions.Fns
import graft.ids.IdMinter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** GTEx pipeline (E2) — `fhir_etl/GTEx/gtex_fhirizer.py`, Spark-first.
  *
  * Inputs (staged fixtures; FIXTURES.md §2-§5): the subject/sample API
  * page data flattened to TSV (S3), the nested fileList JSON (S4), and
  * the sample-attributes TSV (S2). Patient/ResearchSubject/
  * DocumentReference/ResearchStudy are golden-parity-tested against
  * `/root/reference/fhir_etl/GTEx/META`; Specimen and Group membership
  * run on synthetic fixtures because the reference's Specimen.ndjson is
  * an elided large blob (`.MISSING_LARGE_BLOBS`) — their minting chain
  * and shapes are unit-tested instead (GtexGoldenSpec), and the Group's
  * constant-derived fields (id, identifier, type, membership) still
  * golden-match.
  *
  * The nested iterrows loop the reference flags as a "performance black
  * hole" (gtex_fhirizer.py:403) is a posexplode + explode here (P14) —
  * one narrow pass. */
object Gtex {

  val minter: IdMinter = IdMinter.gtex

  /** Minting + display system (no doubled scheme on the GTEx side). */
  val MetaSystem = "https://" + IdMinter.GtexSite + "downloads/adult-gtex/metadata"

  val ParticipantProfile = "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-ncpi-participant.html"
  val SampleProfile = "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-ncpi-sample.html"
  val AgeExtUrl = "https://hl7.org/fhir/extensions/SearchParameter-patient-extensions-Patient-age.html"
  val DueToExtUrl = "https://hl7.org/fhir/R4B/extension-condition-dueto.html"
  val FileSizeExtUrl = "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-file-size.html"
  val SampleAttrsUrl = "https://storage.googleapis.com/adult-gtex/annotations/v10/metadata-files/GTEx_Analysis_v10_Annotations_SampleAttributesDS.txt"

  val StudyId: String = minter.mintIdentifier("ResearchStudy", MetaSystem, "GTEX_V10")
  val GroupId: String = minter.mintIdentifier("Group", MetaSystem, "GTEX_V10")

  private def mintFor(resourceType: String, value: Column): Column =
    minter.mintIdentifierCol(resourceType, MetaSystem, value)

  private def partOfStudy: Column =
    extReference(PartOfStudyUrl, lit(s"ResearchStudy/$StudyId"))

  // ------------------------------------------------------------------
  // Sources
  // ------------------------------------------------------------------

  /** S3 staged form: one row per subject/sample API record. */
  def readTsv(spark: SparkSession, path: String): DataFrame =
    Etl.readTsv(spark, path)

  /** S3: the paginated subject API via the DataSourceV2 page source —
    * one InputPartition per staged page envelope, records parsed with
    * codegen'd from_json (graft.sources.RestPagesSource). */
  def readSubjectPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft.sources.RestPagesSource").option("path", dir)
      .load()
      .select(from_json($"value",
        StructType.fromDDL(
          "subjectId STRING, sex STRING, ageBracket STRING, hardyScale STRING"))
        .as("r"))
      .select("r.*")
  }

  /** The fileList JSON as schema inference types it (every leaf a
    * string), given up front so that reading it starts no job. */
  val FileListSchema: StructType = StructType.fromDDL("filesets ARRAY<STRUCT<" +
    "files: ARRAY<STRUCT<name: STRING, release: STRING, size: STRING, type: STRING>>, " +
    "name: STRING, subpath: STRING>>, name STRING")

  /** S4: the nested fileList JSON — keep `GTEx Analysis V8`, drop the
    * protected fileset positionally (row 0, gtex_fhirizer.py:83), then
    * unnest filesets→files (P14). */
  def readFileList(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("multiLine", "true").schema(FileListSchema).json(path)
      .filter($"name" === "GTEx Analysis V8")
      .select(posexplode($"filesets").as(Seq("fs_pos", "fs")))
      .filter($"fs_pos" > 0)
      .select($"fs.name".as("fs_name"), $"fs.subpath".as("subpath"),
        explode($"fs.files").as("f"))
      .select($"fs_name", $"subpath", $"f.name".as("file"),
        $"f.type".as("ftype"), $"f.size".as("fsize"),
        $"f.release".as("release"))
  }

  // ------------------------------------------------------------------
  // P4: Patient  (gtex_fhirizer.py:121-165)
  // ------------------------------------------------------------------
  def patients(subjects: DataFrame): DataFrame =
    subjects.select(
      lit("Patient").as("resourceType"),
      mintFor("Patient", col("subjectId")).as("id"),
      metaProfile(ParticipantProfile).as("meta"),
      extensions(
        extString(UsCoreSexUrl, col("sex")),
        // age estimate iff alive (hardyScale null); death circumstance
        // iff deceased — mutually exclusive by construction (:145-154)
        extString(AgeExtUrl,
          when(col("hardyScale").isNull, Fns.birthYearRange(col("ageBracket")))),
        extString(DueToExtUrl, col("hardyScale")),
        partOfStudy
      ).as("extension"),
      officialIdentifier(MetaSystem, col("subjectId")).as("identifier"),
      col("hardyScale").isNotNull.as("deceasedBoolean"))

  // ------------------------------------------------------------------
  // P5: ResearchSubject  (gtex_fhirizer.py:167-192)
  // ------------------------------------------------------------------
  def researchSubjects(subjects: DataFrame): DataFrame =
    subjects.select(
      lit("ResearchSubject").as("resourceType"),
      mintFor("ResearchSubject", col("subjectId")).as("id"),
      extensions(partOfStudy).as("extension"),
      officialIdentifier(MetaSystem, col("subjectId")).as("identifier"),
      lit("on-study").as("status"),
      reference(lit(s"ResearchStudy/$StudyId")).as("study"),
      reference(concat(lit("Patient/"), mintFor("Patient", col("subjectId"))))
        .as("subject"))

  // ------------------------------------------------------------------
  // P6: Specimen  (gtex_fhirizer.py:194-255)
  // ------------------------------------------------------------------
  def specimens(samples: DataFrame): DataFrame =
    samples.select(
      lit("Specimen").as("resourceType"),
      mintFor("Specimen", col("aliquotId")).as("id"),
      metaProfile(SampleProfile).as("meta"),
      extensions(partOfStudy).as("extension"),
      officialIdentifier(MetaSystem, col("aliquotId")).as("identifier"),
      codeableConcept("https://terminology.hl7.org/CodeSystem-v3-SpecimenType.html",
        coalesce(col("dataType"), lit("None")),
        coalesce(col("dataType"), lit("None"))).as("type"),
      // subject only when subjectId present (:222 — the reference's
      // string "Not specified" fallback is unrepresentable in a typed
      // Reference; absent here, which the null case of its golden
      // output also is)
      when(col("subjectId").isNotNull,
        reference(concat(lit("Patient/"), mintFor("Patient", col("subjectId")))))
        .as("subject"),
      struct(
        codeableConcept("https://terminology.hl7.org/CodeSystem-v2-0488.html",
          col("freezeType"), col("freezeType")).as("method")).as("collection"))

  // ------------------------------------------------------------------
  // Singleton ResearchStudy  (gtex_fhirizer.py:332-347)
  // ------------------------------------------------------------------
  def researchStudy(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit("ResearchStudy").as("resourceType"),
      lit(StudyId).as("id"),
      extensions(partOfStudy).as("extension"),
      bareIdentifier(MetaSystem, lit("GTEX_V10")).as("identifier"),
      lit("GTEX Analysis v10 Adult Sample and Subject Metadata").as("title"),
      lit("active").as("status"))

  // ------------------------------------------------------------------
  // P8: DocumentReference  (gtex_fhirizer.py:257-313)
  // ------------------------------------------------------------------
  def documentReferences(fileList: DataFrame): DataFrame =
    fileList.select(
      lit("DocumentReference").as("resourceType"),
      mintFor("DocumentReference", col("file")).as("id"),
      extensions(
        // file size kept as the API's human-readable STRING ("16K")
        extString(FileSizeExtUrl, col("fsize")),
        partOfStudy
      ).as("extension"),
      officialIdentifier(MetaSystem, col("file")).as("identifier"),
      col("release").as("version"),
      // v10 file associations unavailable upstream; v8's are marked
      // superseded (:267)
      lit("superseded").as("status"),
      reference(lit(s"Group/$GroupId")).as("subject"),
      codeableConcept("https://gtexportal.org/api/v2/dataset/fileList",
        col("ftype"), col("ftype")).as("type"),
      array(struct(
        struct(
          Fns.mimeType(col("file"), default = "Unknown").as("contentType"),
          format_string("https://storage.googleapis.com/adult-gtex/%s/v8/",
            col("subpath")).as("url"),
          col("file").as("title")).as("attachment"),
        array(struct(struct(
          lit("https://gtexportal.org/home/downloads/adult-gtex/overview")
            .as("system"),
          col("subpath").as("code"),
          col("fs_name").as("display")).as("valueCoding"))).as("profile")))
        .as("content"))

  /** The six output types (gtex_fhirizer.py:410-423) as
    * `(resourceType -> frame)`, built from the fixtures; GTEx's Group
    * reads fixtures, not the job's own output. */
  def resources(spark: SparkSession, fixtureDir: String): Seq[(String, DataFrame)] = {
    val subjects = readTsv(spark, s"$fixtureDir/gtex_subjects.tsv")
    val samples = readTsv(spark, s"$fixtureDir/gtex_samples.tsv")
    Seq(
      "Patient" -> patients(subjects),
      "ResearchSubject" -> researchSubjects(subjects),
      "Specimen" -> specimens(samples),
      "ResearchStudy" -> researchStudy(spark),
      "DocumentReference" -> documentReferences(
        readFileList(spark, s"$fixtureDir/gtex_filelist.json")),
      "Group" -> group(readTsv(spark, s"$fixtureDir/gtex_sample_attrs.tsv"), samples))
  }

  /** E2 end-to-end: all six [[resources]] overwritten in one Spark job
    * ([[graft.sinks.Ndjson.writeAll]]). */
  def runAll(spark: SparkSession, fixtureDir: String, outDir: String): Unit =
    graft.sinks.Ndjson.writeAll(outDir, resources(spark, fixtureDir))

  // ------------------------------------------------------------------
  // Group: J3 intersection (stripped SAMPID ∩ aliquot ids) + A5
  // (gtex_fhirizer.py:87-105, 377-395)
  // ------------------------------------------------------------------
  def group(sampleAttrs: DataFrame, samples: DataFrame): DataFrame =
    Etl.groupMembers(
      sampleAttrs.select(Fns.sampidKey(col("SAMPID")).as("sample_id")),
      samples.select(col("aliquotId").as("sample_id")))(id =>
      concat(lit("Specimen/"), mintFor("Specimen", id)))
      .select(
        lit("Group").as("resourceType"),
        lit(GroupId).as("id"),
        extensions(partOfStudy).as("extension"),
        bareIdentifier(SampleAttrsUrl, lit("GTEX_V10")).as("identifier"),
        lit("definitional").as("membership"),
        lit("specimen").as("type"),
        col("member"))
}
