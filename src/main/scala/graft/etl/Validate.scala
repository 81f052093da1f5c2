package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Validation layer (V1–V3) — the reference's `fhir_etl validate` CLI
  * (`fhir_etl/cli.py:17-45`): per-type counts over a META directory of
  * NDJSON files plus a per-line error report, re-expressed as one
  * distributed scan over the directory.
  *
  * V1 structural rules are a declarative column rule-set (required
  * fields, enum domains, uuid shape) instead of pydantic model
  * validation; invalid rows land in an error DataFrame (quarantine)
  * rather than stdout. V2 is the supported-type set. V3 is the
  * directory job whose summary must reproduce `README.md:35,38`
  * (ValidateSpec pins that).
  */
object Validate {

  /** V2: resource types the engine knows how to validate. */
  val SupportedTypes: Set[String] = Set(
    "Patient", "Specimen", "ResearchSubject", "ResearchStudy",
    "DocumentReference", "Group", "Observation")

  private val UuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"

  /** Enum domains per type (V1 semantic rules; FHIR R5 value sets as
    * exercised by the reference outputs). */
  private val StatusDomain: Map[String, Seq[String]] = Map(
    "ResearchSubject" -> Seq("candidate", "eligible", "on-study",
      "off-study", "withdrawn", "screening", "potential-candidate"),
    "ResearchStudy" -> Seq("active", "administratively-completed",
      "approved", "closed-to-accrual", "completed", "in-review",
      "withdrawn"),
    "DocumentReference" -> Seq("current", "superseded", "entered-in-error"))

  /** Validate every `*.ndjson` file in `dir` with ONE text scan: returns
    * rows (file, resource_type, id, ok BOOLEAN, reason, line, line_pos).
    * Each line's expected type is its file name minus `.ndjson`
    * (`_metadata.file_name`); `line_pos` orders a file's lines
    * (split offset, then position within the split). Line-based and
    * schema-free, so a malformed line can never poison the scan.
    *
    * Invariant: the full line is JSON-parsed once per row. That needs
    * care because Catalyst's filter pushdown substitutes a projection's
    * aliases into the `ok`/`!ok` filter above it, which copies a
    * projected `from_json(line)` into every rule branch (7 parses per
    * valid line). The parse therefore happens in a `json_tuple`
    * generator, which no filter on its output can cross; only the
    * small `identifier` substring is parsed again. ValidateSpec pins one
    * line parse per scan in the optimized plans of [[summary]],
    * [[profile]] and [[errors]]. */
  def validateDir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = ndjsonFiles(dir)
    require(files.nonEmpty, s"no *.ndjson files in directory '$dir'")
    val parsed = spark.read.text(files: _*)
      .select($"value".as("line"), $"_metadata.file_name".as("file"),
        $"_metadata.file_block_start".as("block"))
      .filter(length(trim($"line")) > 0)
      .select($"line", $"file",
        struct($"block", monotonically_increasing_id()).as("line_pos"),
        json_tuple($"line", "resourceType", "id", "status", "identifier"))
      .toDF("line", "file", "line_pos", "rt", "id", "status", "identifiers")
      .withColumn("resource_type", regexp_replace($"file", "\\.ndjson$", ""))
      // `get` (0-based), not element_at/getItem: ANSI mode throws OOB
      .withColumn("ident0", get(from_json($"identifiers", IdentifierSchema),
        lit(0)).getField("value"))
    val expected = $"resource_type"
    val statusRule = StatusDomain.foldLeft(lit(true)) { case (rule, (t, domain)) =>
      when(expected === t, $"status".isin(domain: _*)).otherwise(rule)
    }
    val reason = when($"rt".isNull, "malformed JSON or missing resourceType")
      .when($"rt" =!= expected,
        concat(lit("resourceType mismatch: expected "), expected, lit(", got "), $"rt"))
      .when(!expected.isin(SupportedTypes.toSeq: _*),
        concat(lit("unsupported resource type "), expected))
      .when($"id".isNull || !$"id".rlike(UuidRe), "id is not a valid uuid")
      .when($"ident0".isNull, "missing identifier[0].value")
      .when(!statusRule, concat(lit("status out of domain: "), $"status"))
    parsed.select(
      $"file",
      $"resource_type",
      $"id",
      reason.isNull.as("ok"),
      reason.as("reason"),
      substring($"line", 1, 80).as("line"),
      $"line_pos")
  }

  /** The `*.ndjson` files directly under `dir`, sorted by path; empty
    * when `dir` is not a directory. */
  def ndjsonFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".ndjson"))
      .map(_.getPath).sorted

  private val IdentifierSchema = org.apache.spark.sql.types.DataType
    .fromDDL("ARRAY<STRUCT<value STRING>>")

  /** The summary the reference CLI prints: `{type: count}` of valid
    * resources (README.md:35,38), ordered by type. */
  def summary(spark: SparkSession, dir: String): DataFrame =
    byType(validateDir(spark, dir).filter(col("ok"))
      .groupBy(col("resource_type"))
      .agg(count(lit(1)).as("n_valid")))

  /** Order a per-type aggregate (one row per resource type) by type: its
    * partitions are coalesced into one and sorted there, which needs no
    * range exchange and so no sampling job. */
  private def byType(perType: DataFrame): DataFrame =
    perType.coalesce(1).sortWithinPartitions(col("resource_type"))

  /** Like [[summary]] but with id extremes per type — the e2e-pipeline
    * gate shape (counts alone can't catch a minting regression; min/max
    * id pin the uuid5 chain of the engine's own written output). */
  def profile(spark: SparkSession, dir: String): DataFrame =
    byType(validateDir(spark, dir).filter(col("ok"))
      .groupBy(col("resource_type"))
      .agg(count(lit(1)).as("n_valid"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id")))

  /** Per-line quarantine report (path:line-snippet exception analogue),
    * in scan order: a file's lines stay in line order, but files may
    * interleave. */
  def errors(spark: SparkSession, dir: String): DataFrame =
    validateDir(spark, dir).filter(!col("ok"))
      .select(col("file"), col("reason"), col("line"))

  /** Counts and quarantine rows from ONE aggregation, for the CLI: one row
    * per file (file, resource_type, n_valid, invalid) where `invalid` is
    * the file's (line_pos, reason, line) structs in line order. */
  def report(spark: SparkSession, dir: String): DataFrame =
    validateDir(spark, dir)
      .groupBy(col("file"), col("resource_type"))
      .agg(count_if(col("ok")).as("n_valid"),
        array_sort(collect_list(when(!col("ok"),
          struct(col("line_pos"), col("reason"), col("line"))))).as("invalid"))
}
