package graft.etl

import graft.fhir.FhirBuild._
import graft.functions.Fns
import graft.ids.IdMinter
import graft.sinks.Ndjson
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 1000 Genomes pipeline — the reference's core ETL (E1), Spark-first.
  *
  * Input: the staged `20130606_sample_info` TSV (S1), an FTP-listing
  * frame (S5) and the VCF header text (S6) — all fixture paths in this
  * zero-egress environment (FIXTURES.md §1/§6/§7). Output: one DataFrame
  * per FHIR resource type, golden-compatible with the NDJSON files in
  * `/root/reference/fhir_etl/oneKgenomes/META` per-id and per-field
  * (OneKgGoldenSpec proves full-tree parity).
  *
  * Reference: `fhir_etl/oneKgenomes/oneKg_fhirizer.py` (P1–P3,
  * ResearchStudy), `fhir_etl/oneKgenomes/document_references.py`
  * (P7, J1/J2, A5, Group). Every id re-mints the reference's exact
  * uuid5 chain — including its frozen string quirks: the doubled
  * `https://https://` minting system (oneKg_fhirizer.py:68) and the
  * gtexportal identifier system on Patient (:69, a copy-paste bug
  * reproduced deliberately; SURVEY §7.5 item 1).
  *
  * Group members are header ids ∩ sample-info `Sample`s, the set the
  * reference reads back from its own Specimen.ndjson ([[runAll]]).
  *
  * Scale: each transform is one narrow `select` over the scan (no
  * shuffle). The Group build ([[Etl.groupMembers]]) and the docref dedup
  * (A1) each take one single-partition exchange, sized by the one
  * output they feed: the Group row's member array (≤ tens of MB at any
  * realistic membership, SURVEY §3) and the DocumentReference file.
  */
object OneKg {

  val minter: IdMinter = IdMinter.oneKg

  /** Minting system — the doubled scheme is load-bearing (F10). */
  val MintSystem = "https://" + IdMinter.ThousandGenomesSite +
    "technical/working/20130606_sample_info/"
  /** Identifier system displayed on ResearchSubject/Specimen (single scheme). */
  val TechSystem = IdMinter.ThousandGenomesSite +
    "technical/working/20130606_sample_info/"
  /** Patient identifier system — gtexportal, reproducing
    * oneKg_fhirizer.py:69 verbatim. */
  val PatientIdentifierSystem = "https://gtexportal.org/home/downloads/adult-gtex/metadata"

  val ParticipantProfile = "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-ncpi-participant.html"
  val SampleProfile = "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-ncpi-sample.html"

  val FtpDirectory = "/vol1/ftp/release/20130502/supporting/vcf_with_sample_level_annotation/"
  val BaseUrl = "https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/release/20130502/supporting/vcf_with_sample_level_annotation"
  val HeaderUrl = BaseUrl + "/header"

  val StudyId: String = minter.mintIdentifier("ResearchStudy", MintSystem, "1KG")
  val GroupId: String = minter.mintIdentifier("Group", MintSystem, HeaderUrl)

  private def mintFor(resourceType: String, value: Column): Column =
    minter.mintIdentifierCol(resourceType, MintSystem, value)

  private def partOfStudy: Column =
    extReference(PartOfStudyUrl, lit(s"ResearchStudy/$StudyId"))

  // ------------------------------------------------------------------
  // Sources
  // ------------------------------------------------------------------

  /** S1: sample_info TSV scan, every column a string (the reference
    * lets pandas infer; all consumed columns are strings). */
  def readSampleInfo(spark: SparkSession, path: String): DataFrame =
    Etl.readTsv(spark, path)

  /** S5 staged form: the FTP listing frame (file, size, last_modified). */
  def readFtpListing(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true")
      .schema("file STRING, size LONG, last_modified STRING").csv(path)

  /** S6+F9: sample ids = columns 10+ of the `#CHROM` header line. */
  def readHeaderSampleIds(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.text(path)
      .filter($"value".startsWith("#CHROM"))
      .select(explode(slice(split($"value", "\t"), 10, Int.MaxValue))
        .as("sample_id"))
  }

  // ------------------------------------------------------------------
  // P1: Patient  (oneKg_fhirizer.py:64-108)
  // ------------------------------------------------------------------
  def patients(sampleInfo: DataFrame): DataFrame =
    sampleInfo.select(
      lit("Patient").as("resourceType"),
      mintFor("Patient", col("Sample")).as("id"),
      metaProfile(ParticipantProfile).as("meta"),
      extensions(
        extString(UsCoreSexUrl, col("Gender")),
        extString(UsCoreRaceUrl, col("Population Description")),
        extString(ResearchPopulationUrl, col("Population")),
        partOfStudy
      ).as("extension"),
      officialIdentifier(PatientIdentifierSystem, col("Sample")).as("identifier"))

  // ------------------------------------------------------------------
  // P2: ResearchSubject  (oneKg_fhirizer.py:110-135)
  // ------------------------------------------------------------------
  def researchSubjects(sampleInfo: DataFrame): DataFrame =
    sampleInfo.select(
      lit("ResearchSubject").as("resourceType"),
      mintFor("ResearchSubject", col("Sample")).as("id"),
      extensions(partOfStudy).as("extension"),
      officialIdentifier(TechSystem, col("Sample")).as("identifier"),
      lit("on-study").as("status"),
      reference(lit(s"ResearchStudy/$StudyId")).as("study"),
      reference(concat(lit("Patient/"), mintFor("Patient", col("Sample"))))
        .as("subject"))

  // ------------------------------------------------------------------
  // P3: Specimen  (oneKg_fhirizer.py:137-213)
  // ------------------------------------------------------------------
  def specimens(sampleInfo: DataFrame): DataFrame = {
    val dnaSource = col("DNA Source from Coriell")
    val platform = col("Main project LC platform")
    sampleInfo.select(
      lit("Specimen").as("resourceType"),
      mintFor("Specimen", col("Sample")).as("id"),
      metaProfile(SampleProfile).as("meta"),
      extensions(partOfStudy).as("extension"),
      officialIdentifier(TechSystem, col("Sample")).as("identifier"),
      codeableConcept("https://terminology.hl7.org/CodeSystem-v3-SpecimenType.html",
        coalesce(dnaSource, lit("Whole blood")),
        when(dnaSource === "LCL", "Lymphoblastoid Cell Line")
          .otherwise("Whole blood")).as("type"),
      reference(concat(lit("Patient/"), mintFor("Patient", col("Sample"))))
        .as("subject"),
      struct(
        codeableConcept("https://terminology.hl7.org/CodeSystem-v2-0488.html",
          coalesce(platform, lit("Not specified")),
          coalesce(platform, lit("Not specified"))).as("method"))
        .as("collection"))
  }

  // ------------------------------------------------------------------
  // Singleton ResearchStudy  (oneKg_fhirizer.py:219-236)
  // ------------------------------------------------------------------
  def researchStudy(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit("ResearchStudy").as("resourceType"),
      lit(StudyId).as("id"),
      extensions(partOfStudy).as("extension"),
      bareIdentifier(MintSystem, lit("1KG")).as("identifier"),
      lit("1000 Genomes Project Sample Metadata").as("title"),
      lit("active").as("status"))

  // ------------------------------------------------------------------
  // P7: DocumentReference  (document_references.py:31-114) + A1 dedup
  // ------------------------------------------------------------------
  def documentReferences(listing: DataFrame): DataFrame = {
    val fmt = Fns.dataFormat(col("file"))
    val chrom = Fns.chromosome(col("chrom_src"))
    val docs = listing
      // P9 substring filter + P11 drop-null (document_references.py:132,156)
      .filter(lower(col("file")).contains("vcf") && col("file").isNotNull)
      .withColumn("pos", monotonically_increasing_id())
      .withColumn("chrom_src", col("file"))
      .select(
        lit("DocumentReference").as("resourceType"),
        // minted over the FTP directory path, not the display system
        // (document_references.py:72-75)
        minter.mintIdentifierCol("DocumentReference", FtpDirectory, col("file"))
          .as("id"),
        extensions(partOfStudy).as("extension"),
        officialIdentifier(BaseUrl, col("file")).as("identifier"),
        lit("1").as("version"),
        lit("current").as("status"),
        codeableConcept("https://ftp.1000genomes.ebi.ac.uk/data_format", fmt, fmt)
          .as("type"),
        // category only when a chromosome token is present (:43-54)
        when(chrom.isNotNull,
          array(struct(array(struct(
            lit("https://ftp.1000genomes.ebi.ac.uk/chromosome").as("system"),
            chrom.as("code"),
            concat(lit("Chromosome "), chrom).as("display"))).as("coding"))))
          .as("category"),
        // J4: constant Group FK (:240-241) — a literal, not a join
        reference(lit(s"Group/$GroupId")).as("subject"),
        // F14 "+00:00" then pydantic-style normalization to "Z" on write
        concat(col("last_modified"), lit("Z")).as("date"),
        array(struct(
          struct(
            Fns.mimeType(col("file")).as("contentType"),
            lit(BaseUrl).as("url"),
            // attachment.size only when > 0 (:62-63)
            when(col("size") > 0, col("size")).as("size"),
            concat(lit("file:///"), col("file")).as("title")).as("attachment"),
          array(struct(struct(
            lit("https://ftp.1000genomes.ebi.ac.uk/data_format").as("system"),
            fmt.as("code"), fmt.as("display")).as("valueCoding"))).as("profile")))
          .as("content"),
        col("pos"))
    // A1 last-wins dedup by id ({doc.id: doc}.values(), :248), in the
    // one partition of a single exchange: the window needs no hash
    // exchange on id and the listing order needs no range sort
    val w = Window.partitionBy(col("id")).orderBy(col("pos").desc)
    docs.repartition(1)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .sortWithinPartitions(col("pos")).drop("pos", "rn")
  }

  // ------------------------------------------------------------------
  // Group: J1 membership + A5 collect (document_references.py:187-238);
  // S7, the reference's scan of its own Specimen.ndjson
  // ------------------------------------------------------------------

  /** S7: identifier values from Specimen.ndjson whose system matches
    * (document_references.py:200-205); malformed lines dropped. An id
    * repeats once per matching identifier: every caller consumes the
    * ids as a set ([[group]], or the right side of a semi/anti join). */
  def specimenSampleIds(spark: SparkSession, specimenNdjson: String): DataFrame = {
    import spark.implicits._
    spark.read
      .schema("identifier array<struct<use:string,system:string,value:string>>")
      .option("mode", "DROPMALFORMED").json(specimenNdjson)
      .select(explode($"identifier").as("ident"))
      .filter($"ident.system" === TechSystem && $"ident.value".isNotNull)
      .select($"ident.value".as("sample_id"))
  }

  /** The specimen ids as the engine takes them: the `Sample`s of the
    * sample-info frame. The reference takes them from the Specimen.ndjson
    * its own job writes ([[specimenSampleIds]]), but that set is the same
    * one: each Specimen's `TechSystem` identifier value IS its `Sample`,
    * and a null `Sample` drops out on both paths. */
  def sampleIds(sampleInfo: DataFrame): DataFrame =
    sampleInfo.select(col("Sample").as("sample_id"))

  /** The Group resource: header ids ∩ specimen ids → member array.
    * Members are sorted for determinism — the reference iterates a
    * Python set whose order is hash-seed-dependent, so order is not
    * part of the contract (golden comparison is set-based). */
  def group(spark: SparkSession, headerIds: DataFrame, specimenIds: DataFrame): DataFrame =
    Etl.groupMembers(headerIds, specimenIds)(id =>
      concat(lit("Specimen/"), mintFor("Specimen", id)))
      .select(
        lit("Group").as("resourceType"),
        lit(GroupId).as("id"),
        extensions(partOfStudy).as("extension"),
        bareIdentifier(MintSystem, lit(HeaderUrl)).as("identifier"),
        lit("specimen").as("type"),
        lit("definitional").as("membership"),
        col("member"))

  /** E1 end-to-end: transform all fixtures and write the six NDJSON
    * files in one Spark write job ([[graft.sinks.Ndjson.writeAll]]).
    * DocumentReference and Group are K3 create_or_extend outputs
    * (document_references.py:251-257): into a fresh directory that is a
    * plain write, so they join the one job; a target that already exists
    * (a transform into a used directory) is upserted instead.
    *
    * Group members are header ids ∩ [[sampleIds]]. */
  def runAll(spark: SparkSession, fixtureDir: String, outDir: String): Unit = {
    val si = readSampleInfo(spark, s"$fixtureDir/onekg_sample_info.tsv")
    val (existing, fresh) = Seq(
      "DocumentReference" -> documentReferences(
        readFtpListing(spark, s"$fixtureDir/onekg_ftp_listing.tsv")),
      "Group" -> group(spark,
        readHeaderSampleIds(spark, s"$fixtureDir/onekg_vcf_header.txt"),
        sampleIds(si))
    ).partition { case (t, _) => Files.exists(Paths.get(outDir, s"$t.ndjson")) }
    Ndjson.writeAll(outDir, Seq(
      "Patient" -> patients(si),
      "ResearchSubject" -> researchSubjects(si),
      "Specimen" -> specimens(si),
      "ResearchStudy" -> researchStudy(spark)) ++ fresh)
    existing.foreach { case (t, df) => Ndjson.createOrExtend(spark, df, outDir, t) }
  }

  /** V4: reconciliation counts (document_references.py:209-216) —
    * total/found/missing header ids vs the specimen set, as a report row. */
  def reconciliation(headerIds: DataFrame, specimenIds: DataFrame): DataFrame = {
    val h = headerIds.distinct()
    val found = h.join(specimenIds, Seq("sample_id"), "left_semi")
    val missing = h.join(specimenIds, Seq("sample_id"), "left_anti")
    h.agg(count(lit(1)).as("n_header"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(missing.agg(count(lit(1)).as("n_missing")))
  }
}
