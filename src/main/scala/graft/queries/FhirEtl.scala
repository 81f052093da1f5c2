package graft.queries

import graft.etl.{Clean, Gtex, OneKg}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 1KG FHIR pipeline exposed through the driver harness (P1–P3, P7,
  * J1/J2, A5, F1–F4, F5/F10, F14, V4).
  *
  * Each query runs the real pipeline on the staged fixtures
  * (fixtures/ — reconstructed from the reference goldens by
  * tools/make_onekg_fixtures.py) and projects ids + scalar fields; the
  * DuckDB oracle reads the reference's own golden NDJSON
  * (/root/reference/fhir_etl/oneKgenomes/META) — a hash match therefore
  * proves golden parity, minted uuid5 ids included, through the
  * driver's correctness gate. Full-tree parity (every nested field) is
  * additionally proven in OneKgGoldenSpec.
  */
object FhirEtl extends Registry {

  /** `GRAFT_FIXTURES_DIR`, else `fixtures/` under the working directory
    * (the checkout root when run through sbt). */
  val FixtureDir: String = sys.env.getOrElse("GRAFT_FIXTURES_DIR",
    java.nio.file.Paths.get("fixtures").toAbsolutePath.toString)
  val GoldenDir = "/root/reference/fhir_etl/oneKgenomes/META"
  val GtexGoldenDir = "/root/reference/fhir_etl/GTEx/META"

  private def sampleInfo(s: SparkSession): DataFrame =
    OneKg.readSampleInfo(s, s"$FixtureDir/onekg_sample_info.tsv")

  /** extension[url≈key].valueString — null-safe (get, not element_at). */
  private def extVal(key: String): Column =
    get(filter(col("extension"), e => e("url").contains(key)), lit(0))("valueString")

  private def extRef(key: String): Column =
    get(filter(col("extension"), e => e("url").contains(key)),
      lit(0))("valueReference")("reference")

  def defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    QueryDef(
      "q20_onekg_patient",
      (s, _) => OneKg.patients(sampleInfo(s)).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("sample"),
        extVal("us-core-sex").as("gender"),
        extVal("us-core-race").as("race"),
        extVal("research-population").as("population"),
        extRef("part-of-study").as("study_ref")),
      Some(s"""SELECT id, identifier[1].value AS sample,
             |  list_filter(extension, x -> x.url LIKE '%us-core-sex%')[1].valueString AS gender,
             |  list_filter(extension, x -> x.url LIKE '%us-core-race%')[1].valueString AS race,
             |  list_filter(extension, x -> x.url LIKE '%research-population%')[1].valueString AS population,
             |  list_filter(extension, x -> x.url LIKE '%part-of-study%')[1].valueReference.reference AS study_ref
             |FROM read_json('$GoldenDir/Patient.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P1 Row→Patient with minted uuid5 ids vs reference golden"),

    // ------------------------------------------------------------------
    QueryDef(
      "q21_onekg_researchsubject",
      (s, _) => OneKg.researchSubjects(sampleInfo(s)).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("sample"),
        col("status"),
        col("subject")("reference").as("subject_ref"),
        col("study")("reference").as("study_ref")),
      Some(s"""SELECT id, identifier[1].value AS sample, status,
             |  subject.reference AS subject_ref,
             |  study.reference AS study_ref
             |FROM read_json('$GoldenDir/ResearchSubject.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P2 Row→ResearchSubject (cross-references re-minted, J5)"),

    // ------------------------------------------------------------------
    QueryDef(
      "q22_onekg_specimen",
      (s, _) => OneKg.specimens(sampleInfo(s)).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("sample"),
        element_at(col("type")("coding"), 1)("code").as("type_code"),
        element_at(col("type")("coding"), 1)("display").as("type_display"),
        element_at(col("collection")("method")("coding"), 1)("code")
          .as("method_code"),
        col("subject")("reference").as("subject_ref")),
      Some(s"""SELECT id, identifier[1].value AS sample,
             |  type.coding[1].code AS type_code,
             |  type.coding[1].display AS type_display,
             |  collection.method.coding[1].code AS method_code,
             |  subject.reference AS subject_ref
             |FROM read_json('$GoldenDir/Specimen.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P3 Row→Specimen with null-fallback codings"),

    // ------------------------------------------------------------------
    QueryDef(
      "q23_onekg_docref",
      (s, _) => OneKg.documentReferences(
        OneKg.readFtpListing(s, s"$FixtureDir/onekg_ftp_listing.tsv")).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("file"),
        element_at(col("type")("coding"), 1)("code").as("data_format"),
        get(col("category"), lit(0))("coding")(0)("code").as("chromosome"),
        element_at(col("content"), 1)("attachment")("contentType").as("mime"),
        element_at(col("content"), 1)("attachment")("size").as("size"),
        col("date"),
        col("subject")("reference").as("subject_ref")),
      Some(s"""SELECT id, identifier[1].value AS file,
             |  type.coding[1].code AS data_format,
             |  category[1].coding[1].code AS chromosome,
             |  content[1].attachment.contentType AS mime,
             |  content[1].attachment.size AS size,
             |  strftime(date, '%Y-%m-%dT%H:%M:%SZ') AS date,
             |  subject.reference AS subject_ref
             |FROM read_json('$GoldenDir/DocumentReference.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P7 Row→DocumentReference (F1/F2/F4 format-chromosome-mime)"),

    // ------------------------------------------------------------------
    QueryDef(
      "q24_onekg_group",
      (s, _) => {
        val g = OneKg.group(s,
          OneKg.readHeaderSampleIds(s, s"$FixtureDir/onekg_vcf_header.txt"),
          OneKg.sampleIds(sampleInfo(s)))
        g.select(
          col("id"),
          size(col("member")).as("n_members"),
          col("type"), col("membership"),
          element_at(col("member"), 1)("entity")("reference").as("min_member"),
          element_at(col("member"), size(col("member")))("entity")("reference")
            .as("max_member"))
      },
      Some(s"""SELECT id, CAST(len(member) AS INT) AS n_members,
             |  type, membership,
             |  list_aggregate([x.entity.reference for x in member], 'min') AS min_member,
             |  list_aggregate([x.entity.reference for x in member], 'max') AS max_member
             |FROM read_json('$GoldenDir/Group.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "J1 semi-join (header ids ∩ sample-info ids) + A5 single-group collect"),

    // ------------------------------------------------------------------
    QueryDef(
      "q25_onekg_study",
      (s, _) => OneKg.researchStudy(s).select(
        col("id"), col("title"), col("status"),
        element_at(col("identifier"), 1)("system").as("system"),
        element_at(col("identifier"), 1)("value").as("value")),
      Some(s"""SELECT id, title, status,
             |  identifier[1].system AS system, identifier[1].value AS value
             |FROM read_json('$GoldenDir/ResearchStudy.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "K2 singleton ResearchStudy (doubled-scheme F10 quirk pinned)"),

    // ------------------------------------------------------------------
    QueryDef(
      "q26_onekg_reconciliation",
      (s, _) => OneKg.reconciliation(
        OneKg.readHeaderSampleIds(s, s"$FixtureDir/onekg_vcf_header.txt"),
        OneKg.sampleIds(sampleInfo(s))),
      // fixture plants exactly 3 header ids absent from the sample info
      Some(s"""SELECT CAST(len(member) + 3 AS BIGINT) AS n_header,
             |  CAST(len(member) AS BIGINT) AS n_found,
             |  CAST(3 AS BIGINT) AS n_missing
             |FROM read_json('$GoldenDir/Group.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "V4 reconciliation report (J1 found / J2 missing counts)"),

    // ------------------------------------------------------------------
    QueryDef(
      "q27_gtex_patient",
      (s, _) => Gtex.patients(
        Gtex.readTsv(s, s"$FixtureDir/gtex_subjects.tsv")).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("subject_id"),
        extVal("us-core-sex").as("sex"),
        col("deceasedBoolean").as("deceased"),
        extVal("dueto").as("death_circumstance"),
        extVal("Patient-age").as("age_range"),
        extRef("part-of-study").as("study_ref")),
      Some(s"""SELECT id, identifier[1].value AS subject_id,
             |  list_filter(extension, x -> x.url LIKE '%us-core-sex%')[1].valueString AS sex,
             |  deceasedBoolean AS deceased,
             |  list_filter(extension, x -> x.url LIKE '%dueto%')[1].valueString AS death_circumstance,
             |  list_filter(extension, x -> x.url LIKE '%Patient-age%')[1].valueString AS age_range,
             |  list_filter(extension, x -> x.url LIKE '%part-of-study%')[1].valueReference.reference AS study_ref
             |FROM read_json('$GtexGoldenDir/Patient.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P4 GTEx Row→Patient (deceasedBoolean, age/dueto branch F8)"),

    // ------------------------------------------------------------------
    QueryDef(
      "q28_gtex_researchsubject",
      (s, _) => Gtex.researchSubjects(
        Gtex.readTsv(s, s"$FixtureDir/gtex_subjects.tsv")).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("subject_id"),
        col("status"),
        col("subject")("reference").as("subject_ref"),
        col("study")("reference").as("study_ref")),
      Some(s"""SELECT id, identifier[1].value AS subject_id, status,
             |  subject.reference AS subject_ref,
             |  study.reference AS study_ref
             |FROM read_json('$GtexGoldenDir/ResearchSubject.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P5 GTEx Row→ResearchSubject"),

    // ------------------------------------------------------------------
    QueryDef(
      "q29_gtex_docref",
      (s, _) => Gtex.documentReferences(
        Gtex.readFileList(s, s"$FixtureDir/gtex_filelist.json")).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("file"),
        col("version"), col("status"),
        element_at(col("type")("coding"), 1)("code").as("type_code"),
        element_at(col("content"), 1)("attachment")("contentType").as("mime"),
        element_at(col("content"), 1)("attachment")("url").as("url"),
        element_at(element_at(col("content"), 1)("profile"), 1)("valueCoding")("code")
          .as("subpath"),
        extVal("file-size").as("size_str"),
        col("subject")("reference").as("subject_ref")),
      Some(s"""SELECT id, identifier[1].value AS file, version, status,
             |  type.coding[1].code AS type_code,
             |  content[1].attachment.contentType AS mime,
             |  content[1].attachment.url AS url,
             |  content[1].profile[1].valueCoding.code AS subpath,
             |  list_filter(extension, x -> x.url LIKE '%file-size%')[1].valueString AS size_str,
             |  subject.reference AS subject_ref
             |FROM read_json('$GtexGoldenDir/DocumentReference.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "P8 GTEx Row→DocumentReference (P14 unnest, S4 nested JSON)"),

    // ------------------------------------------------------------------
    // q2a/q2b close P6/J3/F7/S2 out of unit-only status: the reference's
    // GTEx Specimen/Group-membership goldens are elided upstream
    // (.MISSING_LARGE_BLOBS), so the oracle recomputes the transform from
    // the committed synthetic fixtures in DuckDB. Scalar fields are fully
    // recomputed; minted uuid5 ids are pinned as literals (DuckDB 1.0 has
    // no sha1, so the chain itself is not SQL-expressible — the identical
    // minting chain is golden-proven via q20-q29).
    QueryDef(
      "q2a_gtex_specimen",
      (s, _) => Gtex.specimens(
        Gtex.readTsv(s, s"$FixtureDir/gtex_samples.tsv")).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("sample"),
        element_at(col("type")("coding"), 1)("code").as("type_code"),
        element_at(col("type")("coding"), 1)("display").as("type_display"),
        element_at(col("collection")("method")("coding"), 1)("code")
          .as("method_code"),
        col("subject")("reference").as("subject_ref"))
        .orderBy("sample"),
      Some(s"""WITH f AS (SELECT * FROM read_csv('$FixtureDir/gtex_samples.tsv',
             |    delim='\t', header=true, all_varchar=true)),
             |ids(sample, sid) AS (VALUES
             |  ('SM-0001', 'ce838dc2-5204-5d5e-a3b9-78410577b165'),
             |  ('SM-0002', 'f40b3e98-6d1d-592b-bf83-d4a45a6e0898'),
             |  ('SM-0003', '8c6e4101-ff2a-5d6c-be5f-f4da698fc60c'),
             |  ('SM-0004', '85a363f2-bab7-5753-b0f4-54eec4b08cf8'),
             |  ('SM-0005', '7efe5e96-6434-5cdd-b7d0-5792e80d1fc1')),
             |pids(subj, pid) AS (VALUES
             |  ('GTEX-1117F', '491ad1a2-faea-5858-9887-625d94bd6b8c'),
             |  ('GTEX-ZZZZ', 'fe462f38-6b41-58c0-a22d-2ffc4092408a'),
             |  ('GTEX-AAAA', 'a90ffd21-5bbc-585d-9d02-e6ec5d462cc8'))
             |SELECT ids.sid AS id, f.aliquotId AS sample,
             |  coalesce(f.dataType, 'None') AS type_code,
             |  coalesce(f.dataType, 'None') AS type_display,
             |  f.freezeType AS method_code,
             |  CASE WHEN f.subjectId IS NOT NULL THEN 'Patient/' || pid END
             |    AS subject_ref
             |FROM f JOIN ids ON ids.sample = f.aliquotId
             |LEFT JOIN pids ON pids.subj = f.subjectId
             |ORDER BY sample""".stripMargin),
      doc = "P6 GTEx Row→Specimen vs fixture-recomputed oracle (ids literal-pinned)"),

    QueryDef(
      "q2b_gtex_group",
      (s, _) => {
        val g = Gtex.group(
          Gtex.readTsv(s, s"$FixtureDir/gtex_sample_attrs.tsv"),
          Gtex.readTsv(s, s"$FixtureDir/gtex_samples.tsv"))
        g.select(
          col("id"), col("type"), col("membership"),
          size(col("member")).as("n_members"),
          // member is sort_array'd ascending — first/last = min/max
          element_at(col("member"), 1)("entity")("reference").as("min_member"),
          element_at(col("member"), size(col("member")))("entity")("reference")
            .as("max_member"))
      },
      // the oracle RECOMPUTES the F7 SAMPID strip and the J3 semi-join
      // from both fixtures; only the per-sample uuid5 values are literal
      Some(s"""WITH attrs AS (SELECT * FROM read_csv(
             |    '$FixtureDir/gtex_sample_attrs.tsv',
             |    delim='\t', header=true, all_varchar=true)),
             |samples AS (SELECT * FROM read_csv('$FixtureDir/gtex_samples.tsv',
             |    delim='\t', header=true, all_varchar=true)),
             |stripped AS (SELECT DISTINCT CASE
             |    WHEN len(string_split(SAMPID, '-')) >= 2
             |    THEN string_split(SAMPID, '-')[-2] || '-' ||
             |         string_split(SAMPID, '-')[-1]
             |    ELSE SAMPID END AS sample_id FROM attrs),
             |inter AS (SELECT sample_id FROM stripped
             |  WHERE sample_id IN (SELECT DISTINCT aliquotId FROM samples)),
             |ids(sample_id, sid) AS (VALUES
             |  ('SM-0001', 'ce838dc2-5204-5d5e-a3b9-78410577b165'),
             |  ('SM-0002', 'f40b3e98-6d1d-592b-bf83-d4a45a6e0898'),
             |  ('SM-0003', '8c6e4101-ff2a-5d6c-be5f-f4da698fc60c'),
             |  ('SM-0004', '85a363f2-bab7-5753-b0f4-54eec4b08cf8'),
             |  ('SM-0005', '7efe5e96-6434-5cdd-b7d0-5792e80d1fc1'))
             |SELECT 'e15af919-ded6-510a-a538-1449bfb57fc4' AS id,
             |  'specimen' AS type, 'definitional' AS membership,
             |  CAST(count(*) AS INT) AS n_members,
             |  min('Specimen/' || sid) AS min_member,
             |  max('Specimen/' || sid) AS max_member
             |FROM inter JOIN ids USING (sample_id)""".stripMargin),
      doc = "J3/F7 GTEx Group: oracle recomputes SAMPID strip + intersection"),

    // ------------------------------------------------------------------
    // q2c: the GTEx Group at GOLDEN SCALE — the reference's Specimen
    // golden is a 43,559-row blob elided upstream
    // (.MISSING_LARGE_BLOBS), so q2a/q2b gate the transform on 5 rows
    // and A5's 43,559-member array was never exercised at its real
    // size. The full-scale synthetic fixtures
    // (tools/make_gtex_scale_fixtures.py, committed) carry 43,559
    // shared ids plus disjoint tails on each side (150 samples-only,
    // 200 attrs-only), so the J3 semi-join actually excludes rows in
    // both directions and the collect-to-array runs at the golden
    // cardinality. n_members and the pre-minting key-set checksum
    // (16-bit md5-prefix sum — the oracle-determinism recipe) are
    // FULLY recomputed by the oracle from the fixtures; the group id
    // and lexicographic min/max member references are uuid5-minted, so
    // they are literal-pinned like q2a's ids (DuckDB has no sha1 — the
    // minting chain itself is golden-proven via q20-q29).
    QueryDef(
      "q2c_gtex_group_scale",
      (s, _) => {
        val attrs = Gtex.readTsv(s, s"$FixtureDir/gtex_sample_attrs_full.tsv")
        val samples = Gtex.readTsv(s, s"$FixtureDir/gtex_samples_full.tsv")
        val keys = attrs
          .select(graft.functions.Fns.sampidKey(col("SAMPID")).as("sample_id"))
          .distinct()
          .join(samples.select(col("aliquotId").as("sample_id")).distinct(),
            Seq("sample_id"), "left_semi")
          .agg(sum(Sampling.md5Prefix16(col("sample_id"))).as("key_checksum"))
        val g = Gtex.group(attrs, samples)
        g.select(
          col("id"), col("type"), col("membership"),
          size(col("member")).as("n_members"),
          element_at(col("member"), 1)("entity")("reference").as("min_member"),
          element_at(col("member"), size(col("member")))("entity")("reference")
            .as("max_member"))
          .crossJoin(keys.select(col("key_checksum")))
      },
      Some(s"""WITH attrs AS (SELECT * FROM read_csv(
             |    '$FixtureDir/gtex_sample_attrs_full.tsv',
             |    delim='\t', header=true, all_varchar=true)),
             |samples AS (SELECT * FROM read_csv(
             |    '$FixtureDir/gtex_samples_full.tsv',
             |    delim='\t', header=true, all_varchar=true)),
             |stripped AS (SELECT DISTINCT CASE
             |    WHEN len(string_split(SAMPID, '-')) >= 2
             |    THEN string_split(SAMPID, '-')[-2] || '-' ||
             |         string_split(SAMPID, '-')[-1]
             |    ELSE SAMPID END AS sample_id FROM attrs),
             |inter AS (SELECT sample_id FROM stripped
             |  WHERE sample_id IN (SELECT DISTINCT aliquotId FROM samples))
             |SELECT 'e15af919-ded6-510a-a538-1449bfb57fc4' AS id,
             |  'specimen' AS type, 'definitional' AS membership,
             |  CAST(count(*) AS INT) AS n_members,
             |  'Specimen/00034626-3748-5609-93a7-7d8be7c81bb9' AS min_member,
             |  'Specimen/ffff50a5-4885-5253-b9c3-f150a8eb15ac' AS max_member,
             |  CAST(sum(CAST(('0x' || substr(md5(sample_id), 1, 4)) AS BIGINT))
             |    AS BIGINT) AS key_checksum
             |FROM inter""".stripMargin),
      doc = "A5/J3 at golden scale: 43,559-member Group from full-scale " +
        "fixtures, key-set checksum oracle-recomputed, boundary refs pinned"),

    // ------------------------------------------------------------------
    QueryDef(
      "q72_gtex_patient_restsource",
      // same transform as q27 but fed by the S3 paginated-REST
      // DataSourceV2 (one InputPartition per page) instead of the TSV —
      // the oracle is the same golden, so a match proves the custom
      // source delivers every record of every page exactly once
      (s, _) => Gtex.patients(
        Gtex.readSubjectPages(s, s"$FixtureDir/gtex_subject_pages")).select(
        col("id"),
        element_at(col("identifier"), 1)("value").as("subject_id"),
        col("deceasedBoolean").as("deceased"),
        extRef("part-of-study").as("study_ref")),
      Some(s"""SELECT id, identifier[1].value AS subject_id,
             |  deceasedBoolean AS deceased,
             |  list_filter(extension, x -> x.url LIKE '%part-of-study%')[1].valueReference.reference AS study_ref
             |FROM read_json('$GtexGoldenDir/Patient.ndjson',
             |  format='newline_delimited', union_by_name=true)""".stripMargin),
      doc = "S3 paginated REST scan via DataSourceV2, one partition per page"),

    // ------------------------------------------------------------------
    QueryDef(
      "q70_validate_onekg",
      // the reference's transform-then-validate flow (cli.py): validate
      // the directory the engine has just written, as q73 does
      (s, _) => {
        val out = Tables.scratchDir("q70_validate_onekg")
        OneKg.runAll(s, FixtureDir, out)
        graft.etl.Validate.summary(s, out)
      },
      Some(s"""SELECT * FROM (
             |  SELECT 'DocumentReference' AS resource_type, count(*) AS n_valid
             |  FROM read_json('$GoldenDir/DocumentReference.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Group', count(*) FROM read_json('$GoldenDir/Group.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Patient', count(*) FROM read_json('$GoldenDir/Patient.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchStudy', count(*) FROM read_json('$GoldenDir/ResearchStudy.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchSubject', count(*) FROM read_json('$GoldenDir/ResearchSubject.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Specimen', count(*) FROM read_json('$GoldenDir/Specimen.ndjson', format='newline_delimited', union_by_name=true)
             |) ORDER BY resource_type""".stripMargin),
      doc = "V3 validation of the engine-written 1KG directory — README.md:35 count table"),

    // ------------------------------------------------------------------
    // q73/q74: the END-TO-END pipelines through the driver gate — runAll
    // writes all six NDJSON outputs (K1 per-row writes, K2 singleton,
    // K3 create_or_extend targets, in one write job into this fresh
    // directory), then Validate.profile re-reads and validates
    // the engine's OWN files. Counts reproduce the reference CLI's
    // summary (README.md:35,38) and min/max id pin the uuid5 chain of
    // every written type against the reference goldens.
    QueryDef(
      "q73_onekg_e2e",
      (s, _) => {
        val out = Tables.scratchDir("q73_onekg_e2e")
        OneKg.runAll(s, FixtureDir, out)
        graft.etl.Validate.profile(s, out)
      },
      Some(s"""SELECT * FROM (
             |  SELECT 'DocumentReference' AS resource_type, count(*) AS n_valid, min(id) AS min_id, max(id) AS max_id
             |  FROM read_json('$GoldenDir/DocumentReference.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Group', count(*), min(id), max(id) FROM read_json('$GoldenDir/Group.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Patient', count(*), min(id), max(id) FROM read_json('$GoldenDir/Patient.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchStudy', count(*), min(id), max(id) FROM read_json('$GoldenDir/ResearchStudy.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchSubject', count(*), min(id), max(id) FROM read_json('$GoldenDir/ResearchSubject.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Specimen', count(*), min(id), max(id) FROM read_json('$GoldenDir/Specimen.ndjson', format='newline_delimited', union_by_name=true)
             |) ORDER BY resource_type""".stripMargin),
      doc = "E1 end-to-end: runAll → own-output validation vs golden counts + id extremes"),

    QueryDef(
      "q74_gtex_e2e",
      (s, _) => {
        val out = Tables.scratchDir("q74_gtex_e2e")
        Gtex.runAll(s, FixtureDir, out)
        graft.etl.Validate.profile(s, out)
      },
      // golden per-type recompute where goldens exist; Specimen golden is
      // elided upstream, so its row recomputes count + id extremes from
      // the literal-pinned fixture mint table (see q2a)
      Some(s"""SELECT * FROM (
             |  SELECT 'DocumentReference' AS resource_type, count(*) AS n_valid, min(id) AS min_id, max(id) AS max_id
             |  FROM read_json('$GtexGoldenDir/DocumentReference.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Group', count(*), min(id), max(id) FROM read_json('$GtexGoldenDir/Group.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Patient', count(*), min(id), max(id) FROM read_json('$GtexGoldenDir/Patient.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchStudy', count(*), min(id), max(id) FROM read_json('$GtexGoldenDir/ResearchStudy.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchSubject', count(*), min(id), max(id) FROM read_json('$GtexGoldenDir/ResearchSubject.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Specimen', count(*), min(sid), max(sid)
             |    FROM (VALUES ('ce838dc2-5204-5d5e-a3b9-78410577b165'),
             |                 ('f40b3e98-6d1d-592b-bf83-d4a45a6e0898'),
             |                 ('8c6e4101-ff2a-5d6c-be5f-f4da698fc60c'),
             |                 ('85a363f2-bab7-5753-b0f4-54eec4b08cf8'),
             |                 ('7efe5e96-6434-5cdd-b7d0-5792e80d1fc1')) ids(sid)
             |) ORDER BY resource_type""".stripMargin),
      doc = "E2 end-to-end: GTEx runAll → own-output validation vs goldens"),

    // ------------------------------------------------------------------
    // q75/q76: the cleaning pass (F11-F13) through the driver gate. The
    // reference runs clean_resources inside every write
    // (utils.py:177-231); here the same three concerns are checked
    // end-to-end over a committed fixture with planted decimal strings,
    // {"value":"42"} coercions, empty dicts/lists, ""/false/0 scalars.
    QueryDef(
      "q75_clean_ndjson",
      (s, _) => {
        val lines = s.read.textFile(s"$FixtureDir/clean_input.ndjson")
          .filter((l: String) => l.trim.nonEmpty)
        val coerced = lines
          .select(Clean.coerceValueStrings(col("value")).as("value"))
          .as(org.apache.spark.sql.Encoders.STRING)
        Clean.pruneEmptyLines(coerced)
          .select(get_json_object(col("value"), "$.id").cast("long").as("id"),
            col("value").as("cleaned"))
          .orderBy("id")
      },
      // expected lines independently derived from the reference's
      // clean_resources semantics (utils.py:138-161, 189-206)
      Some("""SELECT * FROM (VALUES
             |  (CAST(1 AS BIGINT), '{"id":1,"resourceType":"Observation","value":42}'),
             |  (CAST(2 AS BIGINT), '{"id":2,"a":{"value":3.14}}'),
             |  (CAST(3 AS BIGINT), '{"id":3,"x":[{"y":0}]}'),
             |  (CAST(4 AS BIGINT), '{"id":4,"value":-7.5,"keep":true}'),
             |  (CAST(5 AS BIGINT), '{"id":5,"value":"abc"}'),
             |  (CAST(6 AS BIGINT), '{"id":6,"ok":"yes"}'),
             |  (CAST(7 AS BIGINT), '{"id":7,"vals":[{"value":0},{"value":1.25}],"s":" "}'),
             |  (CAST(8 AS BIGINT), '{"id":8,"m":{"n":{"value":10}}}')
             |) t(id, cleaned) ORDER BY id""".stripMargin),
      doc = "F12/F13 clean_resources round-trip over planted NDJSON fixture"),

    QueryDef(
      "q76_clean_decimals",
      // F11 decimal→double as a schema-level rewrite: the driver gate
      // compares schemas, so if decimalsToDouble missed a nested decimal
      // the decimal column type itself would fail the check
      (s, _) => {
        val df = s.sql(
          """SELECT CAST(id AS BIGINT) AS k,
            |  CAST(id + 0.25 AS DECIMAL(12,2)) AS price,
            |  named_struct('amt', CAST(id * 2 AS DECIMAL(8,3)),
            |    'tags', array(CAST(1.5 AS DECIMAL(4,1)))) AS nested
            |FROM range(3)""".stripMargin)
        Clean.decimalsToDouble(df)
          .select(col("k"), col("price"), col("nested.amt").as("amt"),
            element_at(col("nested.tags"), 1).as("tag0"))
          .orderBy("k")
      },
      Some("""SELECT CAST(i AS BIGINT) AS k, CAST(i + 0.25 AS DOUBLE) AS price,
             |  CAST(i * 2 AS DOUBLE) AS amt, CAST(1.5 AS DOUBLE) AS tag0
             |FROM (SELECT unnest([0, 1, 2]) AS i) ORDER BY k""".stripMargin),
      doc = "F11 recursive decimal→double schema rewrite (gate checks types)"),

    QueryDef(
      "q71_validate_gtex",
      // validates an engine-written directory of the five types whose
      // goldens exist: the golden GTEx Specimen.ndjson is elided upstream
      (s, _) => {
        val out = Tables.scratchDir("q71_validate_gtex")
        graft.sinks.Ndjson.writeAll(out,
          Gtex.resources(s, FixtureDir).filterNot(_._1 == "Specimen"))
        graft.etl.Validate.summary(s, out)
      },
      Some(s"""SELECT * FROM (
             |  SELECT 'DocumentReference' AS resource_type, count(*) AS n_valid
             |  FROM read_json('$GtexGoldenDir/DocumentReference.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Group', count(*) FROM read_json('$GtexGoldenDir/Group.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'Patient', count(*) FROM read_json('$GtexGoldenDir/Patient.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchStudy', count(*) FROM read_json('$GtexGoldenDir/ResearchStudy.ndjson', format='newline_delimited', union_by_name=true)
             |  UNION ALL SELECT 'ResearchSubject', count(*) FROM read_json('$GtexGoldenDir/ResearchSubject.ndjson', format='newline_delimited', union_by_name=true)
             |) ORDER BY resource_type""".stripMargin),
      doc = "V3 validation of an engine-written GTEx directory — README.md:38 count table")
  )
}
